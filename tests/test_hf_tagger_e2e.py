"""End-to-end ``HFTagger.tag`` exercise WITHOUT torch (VERDICT r2 #5).

Round 2 verified the decode seam (``decode_bio_simple`` +
``align_offsets_to_probs``) against recorded RoBERTa offset fixtures but
never executed ``HFTagger.tag`` itself. Here the full method runs —
tokenizer call, truncation, offset-mapping pop, softmax, alignment,
decode, sentence ids, ctx windows — against numpy-backed fake ``torch``
/ ``transformers`` modules injected into ``sys.modules``, with recorded
LOGITS (log-probabilities, so the in-method softmax reproduces the
intended per-token distributions exactly).

The fake tokenizer replicates RobertaTokenizerFast's documented
behavior for the fixture texts: byte-level BPE offsets with trimmed
leading spaces, specials <s>/</s> at (0, 0), and truncation keeping the
first ``max_length - 1`` tokens then re-appending </s> — the same
shapes the r2 offset fixtures encode
(/root/reference/src/routers/main_endpoints.py:166-176 semantics,
truncation per training.py:13).
"""

import sys
import types
import contextlib

import numpy as np
import pytest

from pg_iui_ner_api_spark.operators import tagger as TG
from pg_iui_ner_api_spark.schema import LABEL2ID, MAX_LEN

NL = len(LABEL2ID)


class FakeTensor:
    def __init__(self, arr):
        self.arr = np.asarray(arr)

    def __getitem__(self, i):
        return FakeTensor(self.arr[i])

    def tolist(self):
        return self.arr.tolist()

    def numpy(self):
        return self.arr


def _logits(tags, p=0.9):
    """Per-token logits whose softmax is (p on the tag, uniform rest)."""
    probs = np.full((len(tags), NL), (1 - p) / (NL - 1), dtype=np.float64)
    for i, t in enumerate(tags):
        probs[i, LABEL2ID[t]] = p
    return np.log(probs)


class FakeTokenizer:
    """Registry of text -> (full offset mapping incl specials, tags).

    Batch-capable, replicating documented HF fast-tokenizer behavior:
    a list of texts with ``padding=True`` pads to the longest sequence
    (offset (0, 0), attention_mask 0 on pad positions). input_ids
    encode the fixture index (``k * 100000 + position``) so the fake
    model can return each row's recorded logits from a padded batch."""

    def __init__(self, fixtures):
        self.fixtures = fixtures
        self.keys = list(fixtures)

    def _one(self, text, max_length):
        mapping, _tags = self.fixtures[text]
        if len(mapping) > max_length:  # HF: keep head, re-append </s>
            mapping = mapping[: max_length - 1] + [(0, 0)]
        return mapping

    def __call__(self, text, return_offsets_mapping=True, truncation=True,
                 max_length=MAX_LEN, return_tensors="pt", padding=False):
        assert return_offsets_mapping and truncation and return_tensors == "pt"
        texts = text if isinstance(text, list) else [text]
        maps = [self._one(t, max_length) for t in texts]
        pad_to = max(len(m) for m in maps)
        ids, masks, padded = [], [], []
        for t, m in zip(texts, maps):
            k = self.keys.index(t)
            width = len(m)
            ids.append([k * 100000 + j for j in range(width)]
                       + [0] * (pad_to - width))
            masks.append([1] * width + [0] * (pad_to - width))
            padded.append(list(m) + [(0, 0)] * (pad_to - width))
        return {
            "input_ids": FakeTensor(ids),
            "attention_mask": FakeTensor(masks),
            "offset_mapping": FakeTensor(padded),
        }


class FakeModel:
    """Per-fixture recorded logits, batch-capable: each row of a padded
    batch is resolved by the fixture index its input_ids encode; pad
    positions get O-logits (dropped by offset alignment anyway).
    ``n_forwards`` counts invocations so tests can pin how many model
    calls a batch strategy issues."""

    def __init__(self, fixtures):
        self.rows = []
        for mapping, tags in fixtures.values():
            full = _logits(tags)
            if len(mapping) > MAX_LEN:
                full = np.vstack([full[: MAX_LEN - 1],
                                  _logits(["O"])])  # </s> row
            self.rows.append(full)
        self.pad_row = _logits(["O"])[0]
        self.n_forwards = 0
        self.batch_shapes = []

    def __call__(self, input_ids=None, attention_mask=None):
        self.n_forwards += 1
        ids = input_ids.arr
        b, width = ids.shape
        self.batch_shapes.append((b, width))
        out_arr = np.empty((b, width, NL))
        for r in range(b):
            k = int(ids[r][0]) // 100000
            keep = int(attention_mask.arr[r].sum())
            out_arr[r, :keep] = self.rows[k][:keep]
            out_arr[r, keep:] = self.pad_row
        out = types.SimpleNamespace()
        out.logits = FakeTensor(out_arr)
        return out


@pytest.fixture()
def hf_tagger():
    """Install fake torch/transformers, yield a factory, restore."""
    fake_torch = types.ModuleType("torch")
    fake_torch.no_grad = contextlib.nullcontext

    def softmax(t, dim=-1):
        a = t.arr
        e = np.exp(a - a.max(axis=dim, keepdims=True))
        return FakeTensor(e / e.sum(axis=dim, keepdims=True))

    fake_torch.softmax = softmax
    fake_tf = types.ModuleType("transformers")
    registry = {}

    class RobertaTokenizerFast:
        @staticmethod
        def from_pretrained(path):
            return FakeTokenizer(registry[path])

    class RobertaForTokenClassification:
        @staticmethod
        def from_pretrained(path):
            return FakeModel(registry[path])

    fake_tf.RobertaTokenizerFast = RobertaTokenizerFast
    fake_tf.RobertaForTokenClassification = RobertaForTokenClassification

    saved = {k: sys.modules.get(k) for k in ("torch", "transformers")}
    sys.modules["torch"] = fake_torch
    sys.modules["transformers"] = fake_tf
    try:
        def make(path, fixtures):
            registry[path] = fixtures
            TG.HFTagger._SINGLETON = None  # isolate tests
            return TG.HFTagger.get(path)

        yield make
    finally:
        TG.HFTagger._SINGLETON = None
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v


def test_hf_tag_end_to_end(hf_tagger):
    text = "Acme Corp.. opened! Curie left."
    mapping = [(0, 0),             # <s>
               (0, 4),             # 'Acme'
               (5, 9),             # 'ĠCorp' (trimmed)
               (9, 10), (10, 11),  # '.' '.'
               (12, 18),           # 'Ġopened'
               (18, 19),           # '!'
               (20, 25),           # 'ĠCurie' (second sentence)
               (26, 30),           # 'Ġleft'
               (30, 31),           # '.'
               (0, 0)]             # </s>
    tags = ["O", "B-ORG", "I-ORG", "O", "O", "O", "O", "B-PER", "O", "O", "O"]
    tg = hf_tagger("models/fake", {text: (mapping, tags)})
    mentions, preds = tg.tag(text)
    assert preds == []
    assert len(mentions) == 2
    # exact field-by-field (ctx = raw ±20 window, NOT sentence-clipped;
    # sentence bounds end after 'Corp.. ' (12) and 'opened! ' (20), so
    # Curie at 20 is sentence 2)
    m0, m1 = mentions
    assert (m0.entity_group, m0.word, m0.start, m0.end) == ("ORG", "Acme Corp", 0, 9)
    assert m0.sentence_id == 0 and m0.ctx == text[max(0, 0 - 20):9 + 20]
    assert (m1.entity_group, m1.word, m1.start, m1.end) == ("PER", "Curie", 20, 25)
    assert m1.sentence_id == 2 and m1.ctx == text[max(0, 20 - 20):25 + 20]
    # score = mean softmax prob of the entity's tokens = float32(0.9)
    # (decode boxes scores through np.float32, reference parity)
    want = float(np.float32(0.9))
    assert m0.score == want and m1.score == want


def test_hf_tag_truncation_boundary(hf_tagger):
    """An entity whose tokens sit exactly at/after the MAX_LEN cut is
    dropped; one straddling the cut keeps only its surviving tokens —
    the reference's silent-truncation behavior (training.py:13)."""
    # words: w0 w1 ... ; each token i covers chars [4i, 4i+3)
    n_words = MAX_LEN + 40
    words = [f"w{i:02d}" for i in range(n_words)]
    text = " ".join(words)
    mapping = [(0, 0)]
    for i in range(n_words):
        start = i * 4
        mapping.append((start, start + 3))
    mapping.append((0, 0))
    tags = ["O"] * len(mapping)
    # entity A: tokens 100-101 (well inside) -> survives
    tags[101], tags[102] = "B-LOC", "I-LOC"
    # entity B: straddles the cut. After truncation the kept tokens are
    # mapping[:MAX_LEN-1] = <s> + words 0..MAX_LEN-3; the last kept word
    # index is MAX_LEN-3. Start the entity there so its second token
    # falls past the cut.
    straddle = MAX_LEN - 3
    tags[straddle + 1], tags[straddle + 2] = "B-ORG", "I-ORG"
    # entity C: fully past the cut -> dropped
    tags[MAX_LEN + 10] = "B-PER"
    tg = hf_tagger("models/fake-trunc", {text: (mapping, tags)})
    mentions, _ = tg.tag(text)
    got = [(m.entity_group, m.start // 4) for m in mentions]
    assert got == [("LOC", 100), ("ORG", straddle)]
    # the straddling entity kept only its first token's chars
    m_org = mentions[1]
    assert m_org.end - m_org.start == 3


def test_hf_singleton_per_model(hf_tagger):
    """Per-worker singleton: same path reuses the instance (the fix for
    the reference's reload-per-request, main_endpoints.py:161-166); a
    different path reloads."""
    from pg_iui_ner_api_spark.operators.tagger import HFTagger

    fx = {"x": ([(0, 0), (0, 1), (0, 0)], ["O"] * 3)}
    t1 = hf_tagger("models/fake", fx)
    assert HFTagger.get("models/fake") is t1
    t2 = hf_tagger("models/other", fx)
    assert t2 is not t1 and HFTagger.get("models/other") is t2


def _fixture_set():
    """Four texts of assorted lengths (incl. one past MAX_LEN and one
    with no entities) for batch tests."""
    fx = {}
    t1 = "Acme Corp.. opened! Curie left."
    fx[t1] = (
        [(0, 0), (0, 4), (5, 9), (9, 10), (10, 11), (12, 18), (18, 19),
         (20, 25), (26, 30), (30, 31), (0, 0)],
        ["O", "B-ORG", "I-ORG", "O", "O", "O", "O", "B-PER", "O", "O", "O"],
    )
    t2 = "nothing here"
    fx[t2] = ([(0, 0), (0, 7), (8, 12), (0, 0)], ["O", "O", "O", "O"])
    t3 = "Paris won"
    fx[t3] = ([(0, 0), (0, 5), (6, 9), (0, 0)], ["O", "B-LOC", "O", "O"])
    # long text past MAX_LEN: entity at word 10, entity past the cut
    n_words = MAX_LEN + 20
    t4 = " ".join(f"w{i:03d}" for i in range(n_words))
    mapping = [(0, 0)] + [(i * 5, i * 5 + 4) for i in range(n_words)] + [(0, 0)]
    tags = ["O"] * len(mapping)
    tags[11] = "B-PER"
    tags[MAX_LEN + 5] = "B-ORG"  # past the cut -> dropped
    fx[t4] = (mapping, tags)
    return fx


def test_hf_tag_batch_matches_per_row(hf_tagger):
    """tag_batch (token-budgeted micro-batches) emits exactly the rows
    the per-row tag loop emits, in the same order."""
    import pandas as pd

    fx = _fixture_set()
    tg = hf_tagger("models/fake-batch", fx)
    texts = list(fx)
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(texts))],
        "span_idx": list(range(len(texts))),
        "text": texts,
    })
    got = tg.tag_batch(pdf)
    # reference: the per-row tag loop
    per_row = {k: [] for k in got.columns}
    for doc_id, span_idx, text in zip(pdf["doc_id"], pdf["span_idx"], pdf["text"]):
        mentions, _ = tg.tag(text)
        for m in mentions:
            per_row["doc_id"].append(doc_id)
            per_row["span_idx"].append(span_idx)
            per_row["row_kind"].append("mention")
            per_row["entity_group"].append(m.entity_group)
            per_row["word"].append(m.word)
            per_row["start"].append(m.start)
            per_row["end"].append(m.end)
            per_row["score"].append(m.score)
            per_row["sentence_id"].append(m.sentence_id)
            per_row["ctx"].append(m.ctx)
    want = pd.DataFrame(per_row)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want)
    # sanity on content: ORG+PER from t1, LOC from t3, PER from t4
    assert list(got["entity_group"]) == ["ORG", "PER", "LOC", "PER"]


def test_hf_tag_batch_token_budget(hf_tagger):
    """The packer respects rows x padded_len <= max_batch_tokens and
    amortizes: a roomy budget -> fewer forwards than rows; a tight one
    -> more, smaller batches; results identical either way."""
    import pandas as pd

    fx = _fixture_set()
    texts = list(fx)
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(texts))],
        "span_idx": list(range(len(texts))),
        "text": texts,
    })
    tg = hf_tagger("models/fake-budget", fx)
    roomy = tg.tag_batch(pdf, max_batch_tokens=2 * MAX_LEN)
    model = tg._model
    assert model.n_forwards < len(texts)
    for b, width in model.batch_shapes:
        assert b * width <= 2 * MAX_LEN
    # the three short texts (len 4-11) pack into ONE forward; the
    # MAX_LEN-long text rides alone (padding waste bound by sorting)
    assert model.n_forwards == 2
    tg2 = hf_tagger("models/fake-budget2", fx)
    tight = tg2.tag_batch(pdf, max_batch_tokens=12)
    # the two length-4 texts still pair (2 x 4 = 8 <= 12); the length-11
    # and length-512 texts ride alone
    assert tg2._model.n_forwards == 3
    pd.testing.assert_frame_equal(
        roomy.reset_index(drop=True), tight.reset_index(drop=True)
    )


def test_hf_tag_batch_empty_frame(hf_tagger):
    import pandas as pd

    fx = _fixture_set()
    tg = hf_tagger("models/fake-empty", fx)
    assert tg.tag_batch(pd.DataFrame({"doc_id": [], "span_idx": [], "text": []})) is None
