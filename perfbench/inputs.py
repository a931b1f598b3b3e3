"""Seeded benchmark inputs, written to parquet before any timing starts.

The corpus and its ground-truth triples come from ``synth.gen_doc``,
the pure per-document function that ``synth.synth_documents`` and
``synth.synth_truth_triples`` map over ``spark.range``: doc ``i`` of seed
``s`` is the same row either way. Generating it here, in plain Python,
keeps Spark out of the parent process and out of the set-up time.

The wide dimensions (``kg_workdir_wide``) keep every row of the built-in
gazetteer unchanged and add low-prior distractor holders per real
surface plus unmatched filler entities. Distractor and filler
embeddings live only in the padding dimensions ``[len(VOCAB), EMB_DIM)``,
where every context vector is zero, so a distractor scores
``0.3 * prior < 0.3 * 0.4``, below every real holder: linked output is
identical to the default dimensions.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pg_iui_ner_api_spark import synth

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
DOCUMENTS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
TRUTH = pa.schema([("doc_id", pa.string()), ("subj", pa.string()),
                   ("pred", pa.string()), ("obj", pa.string())])
ALIAS = pa.schema([("alias", pa.string()), ("entity_id", pa.string()),
                   ("kind", pa.string()), ("canonical_name", pa.string()),
                   ("prior", pa.float64())])
EMB = pa.schema([("entity_id", pa.string()), ("emb", pa.list_(pa.float32()))])

# one file per input split, as synth_documents(...).write gives at local[4]
CORPUS_FILES = 4
DISTRACTOR_MAX_PRIOR = 0.3  # every real holder has prior >= 0.4


def write_corpus(out_dir: str, n_docs: int, seed: int) -> str:
    """Write docs/ (CORPUS_FILES parquet files) and truth.parquet."""
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    truth = []
    bounds = np.linspace(0, n_docs, CORPUS_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        ids, spans = [], []
        for i in range(lo, hi):
            doc, triples = synth.gen_doc(i, seed)
            ids.append(doc["doc_id"])
            spans.append(doc["spans"])
            truth.extend(triples)
        pq.write_table(pa.table({"doc_id": ids, "spans": spans}, schema=DOCUMENTS),
                       os.path.join(docs_dir, f"part-{f:05d}.parquet"))
    cols = list(zip(*truth)) if truth else [[], [], [], []]
    pq.write_table(pa.table(dict(zip(TRUTH.names, cols)), schema=TRUTH),
                   os.path.join(out_dir, "truth.parquet"))
    return docs_dir


def write_wide_dims(out_dir: str, n_entities: int, distractors: int,
                    seed: int) -> tuple[str, str]:
    """Write aliases.parquet and embeddings.parquet with ``n_entities``
    entities in total: the built-in gazetteer, ``distractors`` holders
    per real surface, and unmatched fillers for the rest."""
    rng = random.Random(seed)
    pad = np.random.default_rng(seed)
    lo_dim = len(synth.VOCAB)
    aliases = [tuple(r) for r in synth.alias_table()]
    embs = list(synth.entity_embeddings())

    def pad_vector() -> list[float]:
        v = np.zeros(synth.EMB_DIM, np.float32)
        v[lo_dim:] = pad.random(synth.EMB_DIM - lo_dim) + 0.05
        return (v / np.linalg.norm(v)).tolist()

    kinds = ("PER", "ORG", "LOC", "MISC")
    surfaces = sorted({a for a, *_ in aliases})
    for s in surfaces:
        for j in range(distractors):
            eid = f"DST:{s.lower().replace(' ', '_')}:{j}"
            aliases.append((s, eid, kinds[j % 4], f"{s} ({j})",
                            0.01 + rng.random() * (DISTRACTOR_MAX_PRIOR - 0.02)))
            embs.append((eid, pad_vector()))
    for i in range(max(0, n_entities - len(embs))):
        eid = f"FILL:{i}"
        aliases.append((f"filler entity {i}", eid, kinds[i % 4],
                        f"Filler {i}", 0.5))
        embs.append((eid, pad_vector()))
    a_path = os.path.join(out_dir, "aliases.parquet")
    e_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(pa.table(dict(zip(ALIAS.names, zip(*aliases))), schema=ALIAS),
                   a_path)
    pq.write_table(pa.table(dict(zip(EMB.names, zip(*embs))), schema=EMB), e_path)
    return a_path, e_path


def read_truth(out_dir: str) -> set[tuple[str, str, str, str]]:
    t = pq.read_table(os.path.join(out_dir, "truth.parquet")).to_pydict()
    return set(zip(t["doc_id"], t["subj"], t["pred"], t["obj"]))
