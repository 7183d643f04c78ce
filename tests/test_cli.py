"""CLI smoke: build → search (serving + distributed) → compact, in-process.
The same entrypoints run under ``spark-submit --py-files dist/miru_spark.zip
tools/submit_job.py`` (verified manually; spark-submit is out of pytest's
budget)."""

import json

import pytest

from miru_spark.cli import main


@pytest.fixture(scope="module")
def cli_index(spark, tmp_path_factory):
    # the running session is reused by getOrCreate inside the CLI
    idx = str(tmp_path_factory.mktemp("cli") / "idx")
    main([
        "build", "--synthetic-rows", "250", "--index-dir", idx,
        "--partitions", "4", "--no-resume",
    ])
    return idx


def test_cli_search_local(cli_index, capsys):
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "5"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out) == 5 and all("doc_id" in r and "score" in r for r in out)


def test_cli_search_distributed_matches_local(cli_index, capsys):
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "5"])
    local = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "5",
          "--distributed"])
    dist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["doc_id"] for r in local] == [r["doc_id"] for r in dist]


def test_cli_compact(cli_index, capsys):
    main(["compact", "--index-dir", cli_index, "--target-docs", "1000"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["after_partitions"] <= out["before_partitions"]
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "5"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(res) == 5


def test_cli_compact_publishes_appended_docs_and_ops(spark, tmp_path, capsys):
    """compact publishes a whole generation: a doc appended since the last
    refresh is found under a --lang filter, and a REMOVE journaled by the
    same micro-batch is applied."""
    from pyspark.sql import functions as F

    from miru_spark.streaming.ingest import append_batch

    idx = str(tmp_path / "idx")
    main(["build", "--synthetic-rows", "120", "--index-dir", idx, "--partitions", "2",
          "--no-resume"])
    capsys.readouterr()
    main(["search", "--index-dir", idx, "--query", "merge OR sort", "--k", "1"])
    victim = json.loads(capsys.readouterr().out.strip().splitlines()[-1])[0]
    victim_key = (victim["repo"], victim["path"], victim["commit"])
    batch = spark.createDataFrame(
        [("add", "org9/new", "src/new.py", "f" * 40, victim["lang"], "zqxj appended merge"),
         ("remove", *victim_key, victim["lang"], "")],
        "op string, repo string, path string, commit string, lang string, content string",
    ).withColumn("sha256", F.sha2("content", 256))
    append_batch(batch, 0, idx, 2)

    main(["compact", "--index-dir", idx, "--target-docs", "1000"])
    capsys.readouterr()
    main(["search", "--index-dir", idx, "--query", "zqxj", "--lang", victim["lang"], "--k", "5"])
    found = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["path"] for r in found] == ["src/new.py"]
    main(["search", "--index-dir", idx, "--query", "merge OR sort", "--k", "200"])
    served = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "src/new.py" in [r["path"] for r in served]
    assert victim_key not in [(r["repo"], r["path"], r["commit"]) for r in served]


def test_cli_remove_and_repair(cli_index, capsys):
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "3"])
    before = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    victim = before[0]["doc_id"]
    main(["remove", "--index-dir", cli_index, "--doc-ids", str(victim), "--version", "1"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"op": "remove", "resolved": 1, "applied": 1}
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "3"])
    after = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert victim not in [r["doc_id"] for r in after]
    main(["remove", "--index-dir", cli_index, "--doc-ids", str(victim), "--version", "2",
          "--repair"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["applied"] == 1
    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "3"])
    restored = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert victim in [r["doc_id"] for r in restored]


def test_cli_remove_by_key(cli_index, capsys, monkeypatch):
    """--keys resolves repo@path@commit on the driver, with no Spark session."""
    from miru_spark import cli

    main(["search", "--index-dir", cli_index, "--query", "merge AND sort", "--k", "1"])
    top = json.loads(capsys.readouterr().out.strip().splitlines()[-1])[0]
    monkeypatch.setattr(cli, "_spark", lambda args: pytest.fail("remove --keys asked for Spark"))
    key = f"{top['repo']}@{top['path']}@{top['commit']}"
    main(["remove", "--index-dir", cli_index, "--keys", key, "--version", "3"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"op": "remove", "resolved": 1, "applied": 1}
    main(["remove", "--index-dir", cli_index, "--keys", key, "--version", "4", "--repair"])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["applied"] == 1


def test_cli_sync(cli_index, tmp_path, capsys):
    dst = str(tmp_path / "replica")
    main(["sync", "--src", cli_index, "--dst", dst, "--refresh", "--local-cores", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["shipped_pids"] and out["refresh"]["n_docs"] > 0
    main(["search", "--index-dir", cli_index, "--query", "def", "--k", "5"])
    src_res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    main(["search", "--index-dir", dst, "--query", "def", "--k", "5"])
    dst_res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [r["doc_id"] for r in src_res] == [r["doc_id"] for r in dst_res]


def test_cli_pipeline_writes_parquet(spark, tmp_path, capsys):
    """`pipeline --op ... --corpus ... --out ...` runs a registry operator
    and writes the result; rows in the JSON line match the parquet."""
    out = str(tmp_path / "dedup_out")
    main([
        "pipeline", "--op", "dedup_exact",
        "--corpus", "/root/testdata/sf0.001", "--out", out,
    ])
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["op"] == "dedup_exact"
    assert line["rows"] == spark.read.parquet(out).count() > 0


def test_cli_pipeline_unknown_op():
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="unknown op"):
        main(["pipeline", "--op", "nope", "--corpus", "/tmp", "--out", "/tmp/x"])


def test_registry_signatures():
    """Every registry entry is a (spark, sf_dir) callable — the contract the
    CLI, the sweep tool, and the gate all rely on."""
    import inspect

    from miru_spark.pipeline.registry import pipeline_ops

    ops = pipeline_ops()
    assert len(ops) >= 30
    for name, fn in ops.items():
        req = [
            p.name
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
        ]
        assert req == ["spark", "sf_dir"], (name, req)
