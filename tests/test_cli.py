"""The spark-submit entrypoint (pg_iui_ner_api_spark/cli.py).

The packaged-zip spark-submit flow itself is exercised out-of-process
in the verify recipe; here the same main() runs in-process against the
shared session: arg parsing, synth + parquet input paths, the printed
JSON summary contract, and stage resume on a second invocation.
"""

import json

from pg_iui_ner_api_spark import synth
from pg_iui_ner_api_spark.cli import build_parser, main


def test_parser_requires_one_source():
    p = build_parser()
    args = p.parse_args(["--synth", "10", "--workdir", "/tmp/x"])
    assert args.synth == 10
    try:
        p.parse_args(["--workdir", "/tmp/x"])
        assert False, "missing source must be rejected"
    except SystemExit:
        pass
    try:
        p.parse_args(["--synth", "5", "--input", "p", "--workdir", "/tmp/x"])
        assert False, "two sources must be rejected"
    except SystemExit:
        pass


def test_main_synth_and_resume(spark, tmp_path, capsys):
    wd = str(tmp_path / "wd")
    s1 = main(["--synth", "120", "--workdir", wd, "--run-id", "t1"], spark=spark)
    assert s1["counts"]["edges"] > 0
    assert s1["counts"]["nodes"] > 0
    assert all(e["action"] == "computed" for e in s1["stages"])
    # printed line is machine-readable and equals the return value
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["counts"] == {
        k: v for k, v in s1["counts"].items()
    }
    # every stage's count is the row count of the files it wrote
    stages = [e["stage"] for e in s1["stages"]]
    assert set(s1["counts"]) == set(stages) | {"mentions", "predicates"}
    for stage in stages:
        assert s1["counts"][stage] == spark.read.parquet(f"{wd}/{stage}").count()
    # second run, same workdir + fingerprint: every stage resumes
    s2 = main(["--synth", "120", "--workdir", wd, "--run-id", "t1"], spark=spark)
    assert s2["counts"] == s1["counts"]
    assert all(e["action"] == "resumed" for e in s2["stages"])


def test_main_parquet_input(spark, tmp_path):
    docs = synth.synth_documents(spark, 80)
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    wd = str(tmp_path / "wd")
    s = main(["--input", path, "--workdir", wd], spark=spark)
    assert s["fingerprint"] == f"path:{path}"
    assert s["counts"]["edges"] > 0


def test_main_audit_section(spark, tmp_path):
    wd = str(tmp_path / "wd_audit")
    s = main(
        ["--synth", "120", "--workdir", wd, "--run-id", "ta", "--audit"],
        spark=spark,
    )
    audit = s["audit"]
    cons = {c["rule_id"]: c for c in audit["constraints"]}
    # canonical edges are referentially closed against nodes by
    # construction — the audit must come back all-green
    assert set(cons) == {
        "subj_not_null", "pred_not_null", "obj_not_null",
        "subj_in_nodes", "obj_in_nodes",
    }
    assert all(c["passed"] for c in cons.values()), cons
    assert cons["subj_in_nodes"]["n_checked"] == s["counts"]["edges"]
    # induced schema covers every predicate the run emitted
    preds = {r["pred"] for r in audit["schema"]}
    assert preds and all(r["n_triples"] > 0 for r in audit["schema"])
    # JSON-serializable end to end
    json.dumps(s)
