"""Materialized epoch artifact — `epoch_write` turns epoch_build's audited
composition (exact-dedup → mixture resample → sequence packing,
pipeline/text.py) into the on-disk thing a training job actually consumes:
per-(lang, shard) PLACEMENT tables plus per-shard manifests, written with
the same data-files-atomically-BEFORE-manifest resume contract as index
segments (index/build.py:build_segments; SURVEY S14/S15).

The artifact: for every emitted doc copy, the placement row
(lang, shard, stream_id, doc_id, rep, source, n_tokens, start, first_seq,
last_seq) — where its tokens land in the per-lang concatenated stream. A
shard covers ``seqs_per_shard`` consecutive sequences; a copy lives in the
shard its FIRST sequence falls in, and each shard manifest records
``carry_in_tokens`` (tokens spilling in from the previous shard's last
straddling doc) so a loader can assemble shard S from shard S's rows plus
that one documented carry — no neighbor scan. A doc longer than a whole
shard yields HOLE shards (no first_seq lands in them): those get a
driver-written manifest with n_rows = 0 and carry_in = their full covered
span, so the manifest directory is gapless and the loader contract holds
for every shard (pinned by test_epoch_write.py's whole-shard-doc test).

Resume contract (kill/rerun pinned by tests/test_epoch_write.py): a shard
task whose manifest already exists AND matches its group (row count + an
order-insensitive content checksum over (stream_id, n_tokens, start))
skips all work; otherwise it writes the data parquet atomically (tmp +
rename), THEN the manifest JSON atomically. A crash between the two leaves
no manifest — the rerun rebuilds that shard byte-identically (placement is
a pure function of the corpus) while completed shards are never rewritten.
Packing params are registered in ``params.json`` at first write; reopening
with different params raises rather than mixing epochs.

Audit: `epoch_audit` aggregates ONLY the manifests back to epoch_build's
per-lang schema — the gate `epoch_write_audit` hash-matches it against the
same DuckDB oracle as `epoch_build`, proving the materialized artifact
contains exactly what the audited composition says it should.

Scale shape: placement is epoch_stream (map-only emit) + pack_offsets (the
two-level prefix sum) + one exchange keyed by (lang, shard) for the group
write — the same shapes the component gates already carry at 10M docs.
#shards = total_tokens / (seqs_per_shard · seq_len); manifests are a
driver-readable JSON directory bounded by that count (at 2e10 tokens and
the defaults, ~38k files — the same manifest-count class the index build
already handles).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.functions.cache import scoped_cache
from miru_spark.storage import load_json, put_atomic, read_json_files, save_json_atomic
from miru_spark.pipeline.text import epoch_stream, pack_offsets

DEFAULT_SEQ_LEN = 2048
DEFAULT_SEQS_PER_SHARD = 256

_MANIFEST_FIELDS = [
    ("lang", T.StringType()),
    ("shard", T.LongType()),
    ("n_rows", T.LongType()),
    ("sum_tokens", T.LongType()),
    ("n_straddle", T.LongType()),
    ("n_crossings", T.LongType()),
    ("min_start", T.LongType()),
    ("max_end", T.LongType()),
    ("carry_in_tokens", T.LongType()),
    ("data_file", T.StringType()),
    ("status", T.StringType()),
]
MANIFEST_ROW_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in _MANIFEST_FIELDS]
)

_PLACEMENT_COLS = [
    "lang", "shard", "stream_id", "doc_id", "rep", "source",
    "n_tokens", "start", "first_seq", "last_seq",
]


def epoch_placement(
    spark: SparkSession, sf_dir: str, seq_len: int = DEFAULT_SEQ_LEN,
    seqs_per_shard: int = DEFAULT_SEQS_PER_SHARD,
) -> DataFrame:
    """The placement relation: epoch_stream + per-row start offsets +
    sequence/shard assignment. Pure function of the corpus — reruns are
    byte-identical, which is what makes the resume contract sound."""
    L = F.lit(seq_len)
    # pack_offsets references its input in TWO plan branches (the bkt_tot
    # aggregate and the per-row probe join) — cache the epoch stream so the
    # tokenize + dedup-window + resample subtree runs once, not twice (the
    # same scoped_cache epoch_build uses; scope evicts the prior generation).
    placed = pack_offsets(scoped_cache(epoch_stream(spark, sf_dir), "epoch_write"))
    first_seq = F.floor(F.col("start") / L)
    last_seq = F.floor((F.col("start") + F.col("n_tokens") - F.lit(1)) / L)
    return placed.select(
        "lang",
        F.floor(first_seq / F.lit(seqs_per_shard)).cast("long").alias("shard"),
        "stream_id", "doc_id", "rep", "source", "n_tokens", "start",
        first_seq.cast("long").alias("first_seq"),
        # empty docs occupy no sequence: pin last=first so downstream
        # crossing math never goes negative (mirrors pack_stats' nonempty
        # guards)
        F.greatest(last_seq, first_seq).cast("long").alias("last_seq"),
    )


def epoch_write(
    spark: SparkSession, sf_dir: str, out_dir: str,
    seq_len: int = DEFAULT_SEQ_LEN,
    seqs_per_shard: int = DEFAULT_SEQS_PER_SHARD,
    resume: bool = True,
    _fail_shards: frozenset | None = None,
) -> dict:
    """Write the epoch artifact; returns a summary dict.

    Resume soundness: a skip requires the manifest's row count AND an
    order-insensitive content checksum over (stream_id, n_tokens, start)
    to match the recomputed group — same doc count with edited text (same
    n_rows, different offsets) rebuilds instead of silently keeping stale
    placements. Packing params are registered once in ``params.json``;
    reopening an out_dir with different (seq_len, seqs_per_shard, sf_dir)
    raises instead of producing a mixed-parameter epoch.

    ``_fail_shards``: test-only crash injection — a task for (lang, shard)
    in the set raises AFTER writing its data file and BEFORE its manifest,
    the exact window the resume contract protects.
    """
    shards_dir = os.path.join(out_dir, "shards")
    man_dir = os.path.join(out_dir, "manifests")
    os.makedirs(shards_dir, exist_ok=True)
    os.makedirs(man_dir, exist_ok=True)
    params = {"seq_len": int(seq_len), "seqs_per_shard": int(seqs_per_shard),
              "sf_dir": sf_dir}
    params_path = os.path.join(out_dir, "params.json")
    prior = load_json(params_path, None)
    if prior is None:
        save_json_atomic(params_path, params)
    elif prior != params:
        raise ValueError(
            f"epoch at {out_dir} was written with params {prior}, "
            f"rerun requested {params} — refusing to mix"
        )
    fail = _fail_shards or frozenset()

    tok_bytes = seq_len * seqs_per_shard  # tokens per shard

    def _checksum(pdf: pd.DataFrame) -> int:
        # order-insensitive (sum of per-row hashes) so it is independent of
        # the group's arrival order; placement is a pure function of the
        # corpus, so equality means the shard's rows are byte-identical.
        h = pd.util.hash_pandas_object(
            pdf[["stream_id", "n_tokens", "start"]], index=False
        )
        return int(h.sum()) & 0x7FFFFFFFFFFFFFFF

    def write_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lang, shard = str(key[0]), int(key[1])
        man_path = os.path.join(man_dir, f"{lang}_{shard:06d}.json")
        data_file = os.path.join(shards_dir, f"{lang}_{shard:06d}.parquet")
        chk = _checksum(pdf)
        m = load_json(man_path, None) if resume else None
        if (
            m is not None
            and m.get("n_rows") == len(pdf)
            and m.get("checksum") == chk
            and os.path.exists(m["data_file"])
        ):
            m["status"] = "skipped"
            return pd.DataFrame([m])[[n for n, _ in _MANIFEST_FIELDS]]
        pdf = pdf.sort_values("stream_id", kind="mergesort").reset_index(drop=True)
        table = pa.Table.from_pandas(pdf[_PLACEMENT_COLS], preserve_index=False)
        # data durable BEFORE manifest
        put_atomic(data_file, lambda tmp: pq.write_table(table, tmp, compression="snappy"))
        if (lang, shard) in fail:
            raise RuntimeError(f"injected crash after data, before manifest: {key}")
        nonempty = pdf["n_tokens"] > 0
        manifest = {
            "lang": lang,
            "shard": shard,
            "n_rows": int(len(pdf)),
            "sum_tokens": int(pdf["n_tokens"].sum()),
            "n_straddle": int((nonempty & (pdf["first_seq"] != pdf["last_seq"])).sum()),
            "n_crossings": int((pdf["last_seq"] - pdf["first_seq"])[nonempty].sum()),
            "min_start": int(pdf["start"].min()),
            "max_end": int((pdf["start"] + pdf["n_tokens"]).max()),
            "carry_in_tokens": int(pdf["start"].min() - shard * tok_bytes),
            "data_file": data_file,
            "status": "built",
            "checksum": chk,
        }
        save_json_atomic(man_path, manifest)
        return pd.DataFrame([manifest])[[n for n, _ in _MANIFEST_FIELDS]]

    placement = epoch_placement(spark, sf_dir, seq_len, seqs_per_shard)
    manifests = [
        r.asDict()
        for r in placement.groupBy("lang", "shard")
        .applyInPandas(write_shard, schema=MANIFEST_ROW_SCHEMA)
        .collect()
    ]

    # HOLE shards: a doc longer than a whole shard (> seq_len*seqs_per_shard
    # tokens) covers shards in which no row's first_seq falls — the groupBy
    # never emits those groups, but the loader contract promises a manifest
    # per shard. Fill them driver-side: such a shard is 100% carry from the
    # straddling doc (n_rows = 0, carry_in = its full covered span), derived
    # from per-lang totals, so epoch.json's n_shards and the manifest
    # numbering stay gapless. The trailing case (last doc straddling past
    # the last first_seq shard) is the same fill with a partial carry.
    by_lang_tot: dict[str, int] = {}
    by_lang_shards: dict[str, set] = {}
    for m in manifests:
        by_lang_tot[m["lang"]] = by_lang_tot.get(m["lang"], 0) + m["sum_tokens"]
        by_lang_shards.setdefault(m["lang"], set()).add(m["shard"])
    for lang, total in by_lang_tot.items():
        present = by_lang_shards[lang]
        expected = max(
            max(present) + 1,
            ((total - 1) // tok_bytes + 1) if total > 0 else 0,
        )
        for shard in range(expected):
            if shard in present:
                continue
            man_path = os.path.join(man_dir, f"{lang}_{shard:06d}.json")
            carry = min(tok_bytes, total - shard * tok_bytes)
            m = {
                "lang": lang, "shard": shard, "n_rows": 0, "sum_tokens": 0,
                "n_straddle": 0, "n_crossings": 0,
                # carry_in = min_start - shard_start holds by construction;
                # max_end = min_start records zero own tokens.
                "min_start": shard * tok_bytes + carry,
                "max_end": shard * tok_bytes + carry,
                "carry_in_tokens": int(carry),
                "data_file": "", "status": "built", "checksum": 0,
            }
            old = load_json(man_path, None) if resume else None
            if old is not None and old.get("n_rows") == 0 and old.get("checksum") == 0:
                old["status"] = "skipped"
                manifests.append(old)
                continue
            save_json_atomic(man_path, m)
            manifests.append(m)

    summary = {
        "seq_len": seq_len,
        "seqs_per_shard": seqs_per_shard,
        "n_shards": len(manifests),
        "built": sum(1 for m in manifests if m["status"] == "built"),
        "skipped": sum(1 for m in manifests if m["status"] == "skipped"),
        "total_tokens": sum(m["sum_tokens"] for m in manifests),
        "langs": sorted({m["lang"] for m in manifests}),
    }
    # top-level manifest LAST: its presence marks a complete epoch
    save_json_atomic(os.path.join(out_dir, "epoch.json"), summary)
    return summary


def epoch_audit(spark: SparkSession, out_dir: str, seq_len: int) -> DataFrame:
    """Reconstruct epoch_build's per-lang audit from the MANIFESTS alone —
    never re-reading the corpus or even the shard data. Hash-matching this
    against epoch_build's DuckDB oracle (gate `epoch_write_audit`) proves
    the materialized artifact contains exactly what the audited composition
    says. n_seqs/pad derive from totals the same way pack_stats derives
    them; max_end must agree (consistency asserted in tests)."""
    man_dir = os.path.join(out_dir, "manifests")
    rows = list(read_json_files(man_dir).values())
    if not rows:
        raise FileNotFoundError(f"no shard manifests under {man_dir}")
    mf = spark.createDataFrame(
        pd.DataFrame(rows)[[n for n, _ in _MANIFEST_FIELDS[:9]]]
    )
    L = F.lit(seq_len)
    total = F.sum("sum_tokens")
    n_seqs = F.floor((total + L - F.lit(1)) / L)
    return (
        mf.groupBy("lang")
        .agg(
            F.sum("n_rows").cast("long").alias("n_docs"),
            total.cast("long").alias("total_tokens"),
            n_seqs.cast("long").alias("n_seqs"),
            F.sum("n_straddle").cast("long").alias("n_straddle_docs"),
            F.sum("n_crossings").cast("long").alias("n_crossings"),
            (n_seqs * L - total).cast("long").alias("pad_tokens"),
        )
        .orderBy("lang")
    )


# --- gate wiring -------------------------------------------------------------
def epoch_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: write the epoch artifact (fresh dir), then answer the audit
    FROM THE MANIFESTS — same oracle as epoch_build, so a hash match means
    artifact == audited composition. Exercises the real resume path by
    writing twice: the second pass must skip every shard."""
    import shutil

    out = os.path.join(
        "/tmp/miru_spark_epoch", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(out, ignore_errors=True)
    first = epoch_write(spark, sf_dir, out)
    second = epoch_write(spark, sf_dir, out)
    assert first["built"] == first["n_shards"] and first["skipped"] == 0
    assert second["skipped"] == second["n_shards"] and second["built"] == 0
    return epoch_audit(spark, out, DEFAULT_SEQ_LEN)
