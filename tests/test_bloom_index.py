"""Per-file bloom filter indexes (``Warehouse(bloom_cols=...)``) —
Delta's bloom-filter-index analog: the commit-time sidecar build
(driver-side and distributed, word-for-word equal), point-lookup
file skipping, the merge-prune bloom tier, and
the governance surfaces (fold, vacuum, rename, config drift, DVs).

The scale claim under test: a point probe on a key that is NOT the
clustering column cannot be served by min/max stats (every file spans
the key domain), so each test lays data out with round-robin residue
batches — the worst case for envelope pruning, the home turf of
blooms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zolo_spark.warehouse import Warehouse


def _wh(spark, tmp_path, **kw):
    kw.setdefault("auto_compact_dvs", None)
    kw.setdefault("bloom_cols", {"cdc_mirror": ["cust_id"]})
    kw.setdefault("bloom_bits", 1 << 12)
    return Warehouse(spark, str(tmp_path / "wh"), **kw)


def _base(spark, n=800):
    return spark.range(0, n).select(
        F.col("id").alias("cust_id"),
        F.concat(F.lit("seg"), (F.col("id") % 5).cast("string"))
        .alias("segment"),
        (F.col("id") * 1.5).alias("balance"))


def _commit_residues(wh, df, mod=8):
    """One commit per residue class, one file per commit: every file
    spans the full cust_id min/max domain (coalesce(1) prevents
    spark.range's contiguous partitioning from accidentally giving
    files tight ranges), so stats pruning keeps nothing and any
    observed skipping is the bloom tier's."""
    for i in range(mod):
        wh.commit_tx({"cdc_mirror":
                      df.filter(F.col("cust_id") % mod == i)
                      .coalesce(1)})


def test_point_lookup_prunes_and_matches(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark))
    rows = wh.point_lookup("cdc_mirror", {"cust_id": 123}).collect()
    assert [(r["cust_id"], r["segment"]) for r in rows] == [(123, "seg3")]
    cand, total = wh.last_point_lookup
    assert total >= 8 and cand < total, (cand, total)
    # a key outside the table: bloom rules out every file
    assert wh.point_lookup("cdc_mirror", {"cust_id": 10**7}).count() == 0
    assert wh.last_point_lookup[0] == 0
    # NULL probe = SQL `c = NULL`: empty, no scan
    assert wh.point_lookup("cdc_mirror", {"cust_id": None}).count() == 0


def test_point_lookup_no_false_negatives(spark, tmp_path):
    """Bloom pruning must NEVER skip a file that holds the key —
    probe one key from every residue batch."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark, n=400), mod=4)
    for key in (0, 1, 2, 3, 97, 201, 399):
        got = wh.point_lookup("cdc_mirror", {"cust_id": key}).collect()
        assert len(got) == 1 and got[0]["cust_id"] == key, key


def test_merge_prune_bloom_tier(spark, tmp_path):
    """Update keys all ≡ 3 (mod 8): stats see full-domain files and
    would rewrite all 8; the bloom tier must confine the rewrite to
    the one file that can hold the keys — and the merge result must
    equal the plain restatement."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark))
    upd = spark.createDataFrame(
        [(3 + 8 * j, "upd", 0.0) for j in range(10)],
        "cust_id long, segment string, balance double")
    files = wh._replay_files(wh._effective_txs(wh._read_txlog()),
                             "cdc_mirror")
    keep, touched = wh._prune_merge_files(
        "cdc_mirror", files, ["cust_id"], upd)
    assert len(touched) == 1 and len(keep) == len(files) - 1
    wh.merge_tx("cdc_mirror", upd, ["cust_id"])
    out = wh.read_committed_tx("cdc_mirror")
    assert out.count() == 800
    assert out.filter("segment = 'upd'").count() == 10
    assert out.filter("cust_id = 11 and segment = 'upd'").count() == 1


def test_bloom_survives_fold_and_vacuum(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark))
    wh.checkpoint_txlog(retain_last=1)
    wh.vacuum_uncommitted_tx(["cdc_mirror"])
    # fresh instance: no warm cache, entries must come from the
    # folded snapshot and the sidecar files must have survived vacuum
    wh2 = _wh(spark, tmp_path)
    got = wh2.point_lookup("cdc_mirror", {"cust_id": 123}).collect()
    assert len(got) == 1
    cand, total = wh2.last_point_lookup
    assert cand < total


def test_bloom_rename_safe(spark, tmp_path):
    """Blooms are keyed by PHYSICAL column name: a logical rename
    must not orphan the index."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    wh.rename_column_tx("cdc_mirror", "cust_id", "customer_id")
    wh2 = _wh(spark, tmp_path,
              bloom_cols={"cdc_mirror": ["customer_id"]})
    got = wh2.point_lookup("cdc_mirror", {"customer_id": 42}).collect()
    assert len(got) == 1 and got[0]["customer_id"] == 42
    cand, total = wh2.last_point_lookup
    assert cand < total


def test_bloom_config_drift_is_conservative(spark, tmp_path):
    """Files indexed under a different (m, k) are NOT bloom-pruned
    (the probe positions wouldn't match) — results stay correct, the
    files just stay candidates."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    wh2 = _wh(spark, tmp_path, bloom_bits=1 << 13)
    got = wh2.point_lookup("cdc_mirror", {"cust_id": 123}).collect()
    assert len(got) == 1
    cand, total = wh2.last_point_lookup
    assert cand == total  # stats can't prune, bloom skipped


def test_point_lookup_resolves_dvs(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    wh.delete_tx("cdc_mirror", "cust_id = 123",
                 keys=["cust_id"], mode="mor")
    assert wh.point_lookup("cdc_mirror", {"cust_id": 123}).count() == 0
    assert wh.point_lookup("cdc_mirror", {"cust_id": 124}).count() == 1


def test_point_lookup_unindexed_table(spark, tmp_path):
    """No bloom_cols at all: point_lookup degrades to the stats tier
    and stays correct."""
    wh = _wh(spark, tmp_path, bloom_cols={})
    _commit_residues(wh, _base(spark), mod=4)
    got = wh.point_lookup("cdc_mirror", {"cust_id": 123}).collect()
    assert len(got) == 1 and got[0]["segment"] == "seg3"


def test_point_lookup_multi_column_and_time_travel(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    got = wh.point_lookup(
        "cdc_mirror", {"cust_id": 123, "segment": "seg3"}).collect()
    assert len(got) == 1
    assert wh.point_lookup(
        "cdc_mirror", {"cust_id": 123, "segment": "seg0"}).count() == 0
    # time travel: version 1 holds only residue-0 keys
    assert wh.point_lookup("cdc_mirror", {"cust_id": 4},
                           as_of_version=1).count() == 1
    assert wh.point_lookup("cdc_mirror", {"cust_id": 5},
                           as_of_version=1).count() == 0


def test_all_null_and_empty_batches(spark, tmp_path):
    """A batch whose indexed column is all-NULL (or empty) gets an
    all-zero bloom: probes skip it, and no probe ever matches its
    rows (SQL equality on NULL is never true)."""
    wh = _wh(spark, tmp_path)
    wh.commit_tx({"cdc_mirror": _base(spark, n=50)})
    nulls = spark.createDataFrame(
        [(None, "nullseg", 1.0)] * 5,
        "cust_id long, segment string, balance double")
    wh.commit_tx({"cdc_mirror": nulls})
    got = wh.point_lookup("cdc_mirror", {"cust_id": 7}).collect()
    assert len(got) == 1
    cand, total = wh.last_point_lookup
    assert cand < total  # the all-NULL batch was skipped


def test_rewrite_record_does_not_reindex(spark, tmp_path):
    """A REWRITE re-listing kept files must not rebuild their blooms
    (committed bytes never change, and re-indexing would re-scan the
    table): after a pruned merge, exactly one NEW bloom entry exists
    and it covers only the rewritten files."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    before = wh._bloom_entries(
        wh._effective_txs(wh._read_txlog()), "cdc_mirror")
    covered_before = {rel for e in before for rel in e["files"]}
    upd = spark.createDataFrame([(2, "upd", 0.0)],
                                "cust_id long, segment string, balance double")
    wh.merge_tx("cdc_mirror", upd, ["cust_id"])
    after = wh._bloom_entries(
        wh._effective_txs(wh._read_txlog()), "cdc_mirror")
    new = [e for e in after
           if not set(e["files"]) <= covered_before]
    assert len(new) == 1
    assert not set(new[0]["files"]) & covered_before
    # and the fresh postimage file is immediately probe-able
    got = wh.point_lookup("cdc_mirror", {"cust_id": 2}).collect()
    assert got[0]["segment"] == "upd"


def test_point_lookup_unknown_column_raises(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.commit_tx({"cdc_mirror": _base(spark, n=10)})
    with pytest.raises(ValueError, match="no column"):
        wh.point_lookup("cdc_mirror", {"nope": 1})


def test_compact_reindexes_and_lookup_stays_pruned(spark, tmp_path):
    """OPTIMIZE/compact stages fresh files through the same commit
    path, so the rewritten table gets a fresh bloom entry and point
    lookups keep pruning after compaction collapses the residue
    layout."""
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark), mod=4)
    wh.compact("cdc_mirror", target_file_bytes=4096)
    got = wh.point_lookup("cdc_mirror", {"cust_id": 123}).collect()
    assert len(got) == 1 and got[0]["segment"] == "seg3"
    cand, total = wh.last_point_lookup
    assert total > 1 and cand < total, (cand, total)


def test_bloom_on_string_key(spark, tmp_path):
    """The index is type-generic through Spark-side xxhash64 — a
    STRING key builds, probes, and prunes the same way (the probe
    literal is cast to the column's schema type before hashing, so
    build and probe agree)."""
    wh = _wh(spark, tmp_path,
             bloom_cols={"cdc_mirror": ["segment"]})
    base = spark.range(0, 400).select(
        F.col("id").alias("cust_id"),
        F.concat(F.lit("user-"), F.col("id").cast("string"))
        .alias("segment"),
        (F.col("id") * 1.5).alias("balance"))
    for i in range(4):
        wh.commit_tx({"cdc_mirror":
                      base.filter(F.col("cust_id") % 4 == i)
                      .coalesce(1)})
    got = wh.point_lookup("cdc_mirror", {"segment": "user-123"}).collect()
    assert len(got) == 1 and got[0]["cust_id"] == 123
    cand, total = wh.last_point_lookup
    assert total == 4 and cand < total, (cand, total)
    assert wh.point_lookup(
        "cdc_mirror", {"segment": "user-9999"}).count() == 0
    assert wh.last_point_lookup[0] == 0


def test_driver_side_xxh64_matches_spark(spark):
    """r14 optimization pin: point-lookup probe positions hash
    driver-side through the pure-Python XXH64 port; every branch
    (8-byte long path, 4-byte int path, bytes path incl. the
    stride-32 accumulator rounds, 4-byte tail and per-byte tail,
    and the multi-column seed chaining through the F.lit(seed)
    IntegerType literal) must stay bit-equal to Spark's xxhash64."""
    import random

    import numpy as np

    from zolo_spark.warehouse import (_xxh64_bytes, _xxh64_int,
                                      _xxh64_int_np, _xxh64_long,
                                      _xxh64_long_np)

    random.seed(11)
    longs = [0, 1, -1, 58, 2**63 - 1, -2**63] + [
        random.randrange(-2**63, 2**63) for _ in range(5)]
    ints = [0, -1, 58, 2**31 - 1, -2**31] + [
        random.randrange(-2**31, 2**31) for _ in range(5)]
    strs = ["", "a", "abcdefg", "abcdefgh", "abcdefghi", "x" * 31,
            "x" * 32, "x" * 40, "Grüße-鍵-✓", "cust-58"] + [
        "".join(random.choice("abcdef gh") for _ in range(
            random.randrange(0, 50))) for _ in range(5)]
    seeds = list(range(5))
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(v).cast("bigint"), F.lit(s)).alias(f"l{i}_{s}")
          for i, v in enumerate(longs) for s in seeds],
        *[F.xxhash64(F.lit(v).cast("int"), F.lit(s)).alias(f"i{i}_{s}")
          for i, v in enumerate(ints) for s in seeds],
        *[F.xxhash64(F.lit(v).cast("string"), F.lit(s)).alias(f"s{i}_{s}")
          for i, v in enumerate(strs) for s in seeds],
    ).first()
    for i, v in enumerate(longs):
        for s in seeds:
            assert _xxh64_int(s, _xxh64_long(v, 42)) == row[f"l{i}_{s}"]
    for i, v in enumerate(ints):
        for s in seeds:
            assert _xxh64_int(s, _xxh64_int(v, 42)) == row[f"i{i}_{s}"]
    for i, v in enumerate(strs):
        for s in seeds:
            assert (_xxh64_int(s, _xxh64_bytes(v.encode("utf-8"), 42))
                    == row[f"s{i}_{s}"])
    # the vectorized form the driver-side bloom build uses: whole
    # columns through the numpy 8-/4-byte paths, seed rounds chained
    # over the column of value hashes
    for vals, h1, tag in (
            (longs, _xxh64_long_np(np.array(longs, np.int64), 42), "l"),
            (ints, _xxh64_int_np(np.array(ints, np.int32), 42), "i")):
        for s in seeds:
            got = _xxh64_int_np(s, h1).view(np.int64).tolist()
            assert got == [row[f"{tag}{i}_{s}"]
                           for i in range(len(vals))]


def test_probe_positions_type_mismatch_routes_spark_side(spark, tmp_path):
    """r15 hardening (ADVICE): the driver-side XXH64 fast path fires
    ONLY when the probe's Python type matches the column type exactly
    — a coercing int(v)/str(v) would diverge from the Spark-side
    ``lit(v).cast(dt)`` the index build used (str(True) = 'True' vs
    Spark 'true') and silently prune files that hold matching rows.
    Every mismatched pair must produce positions identical to the
    Spark fallback computed directly. (An out-of-range int also
    routes Spark-side, where ANSI cast raises exactly as the pure
    Spark path always did — not assertable here without expecting
    the raise on both sides.)"""
    from pyspark.sql.types import LongType, StringType

    wh = _wh(spark, tmp_path)
    m, k = wh.bloom_bits, wh.bloom_hashes
    pairs = [
        (True, LongType()),        # bool vs integral column
        (1.0, StringType()),       # float vs string column
        ("58", LongType()),        # numeric string vs long column
        (58, LongType()),          # matched: fast path (control)
        ("seg3", StringType()),    # matched: fast path (control)
    ]
    got = wh._bloom_probe_positions(pairs)
    row = spark.range(1).select(*[
        F.array(*[F.pmod(F.xxhash64(F.lit(v).cast(dt), F.lit(s)),
                         F.lit(m)) for s in range(k)]).alias(f"_e{i}")
        for i, (v, dt) in enumerate(pairs)])
    expected = row.first()
    for i in range(len(pairs)):
        assert got[i] == list(expected[f"_e{i}"]), pairs[i]


# ---- driver-side vs distributed bloom build (the selection rule)

_LONG_EDGES = [-2**63, 2**63 - 1, -1, 0, 1, -123456789012, None]
_STR_EDGES = ["o'k", "it''s", "Grüße-鍵-✓", "", "back\\slash", "x" * 40,
              None]


def _sidecar_rows(wh, table, entry) -> set:
    import os

    import pyarrow.parquet as pq

    rows = set()
    for rel in entry["sidecar"]:
        t = pq.read_table(os.path.join(wh.path(table), rel))
        rows.update(zip(*(t.column(c).to_pylist()
                          for c in ("_fi", "_ci", "_w", "_v"))))
    return rows


@pytest.mark.parametrize("table,cols", [
    ("cdc_mirror", ["cust_id", "segment"]),
    ("items", ["zolo_id", "product_name"]),
])
def test_driver_bloom_build_matches_spark_build(spark, tmp_path, table,
                                                cols):
    """The commit-path bloom build on the driver (pyarrow + numpy
    XXH64) must write exactly the (_fi, _ci, _w, _v) words the
    distributed Spark build writes for the same staged files — long
    (8-byte path), int (4-byte path) and string keys, with NULLs,
    Long/Int MIN/MAX, negatives, quotes and non-ASCII values, over
    two files per commit."""
    import os

    from zolo_spark import schemas

    wh = _wh(spark, tmp_path, bloom_cols={table: cols})
    if table == "cdc_mirror":
        data = [(v, s, 1.0) for v in _LONG_EDGES for s in _STR_EDGES] \
            + [(i * 7919 - 500, f"c{i}", 0.5) for i in range(300)]
    else:
        ints = [-2**31, 2**31 - 1, -1, 0, None]
        data = [(s, "v", z, "sq", "qb", "sh", "cat", "whole", 1.0, 1)
                for z in ints for s in _STR_EDGES] \
            + [(f"k{i}", "v", i - 150, "sq", "qb", "sh", "cat", "whole",
                float(i), 1) for i in range(300)]
    df = spark.createDataFrame(data, schemas.WAREHOUSE_TABLES[table])
    wh.commit_tx({table: df.repartition(2)})
    (entry,) = wh._bloom_entries(wh._all_txs(wh._read_txlog()), table)
    assert len(entry["files"]) == 2 and entry["cols"] == sorted(cols)
    driver = _sidecar_rows(wh, table, entry)
    pschema = wh._physical_schema(wh._tx_fields(table))
    out = os.path.join(wh.path(table), "batch-bloom-spark")
    wh._bloom_words_spark(table, entry["files"], entry["cols"], pschema,
                          out)
    spark_rows = _sidecar_rows(
        wh, table, {"sidecar": [os.path.join("batch-bloom-spark", fn)
                                for fn in os.listdir(out)
                                if fn.endswith(".parquet")]})
    assert driver == spark_rows and len(driver) > 100


def test_large_commit_takes_distributed_bloom_build(spark, tmp_path,
                                                    monkeypatch):
    """Past _DRIVER_SIDECAR_MAX_ROWS (forced to 0 here) the commit
    runs the Spark build, and lookups prune the same way on it."""
    import zolo_spark.warehouse as W

    monkeypatch.setattr(W, "_DRIVER_SIDECAR_MAX_ROWS", 0)
    called = []
    orig = W.Warehouse._bloom_words_spark
    monkeypatch.setattr(W.Warehouse, "_bloom_words_spark",
                        lambda self, *a: called.append(1) or orig(self, *a))
    wh = _wh(spark, tmp_path)
    _commit_residues(wh, _base(spark, n=400), mod=4)
    assert len(called) == 4
    got = wh.point_lookup("cdc_mirror", {"cust_id": 201}).collect()
    assert [r["cust_id"] for r in got] == [201]
    assert wh.last_point_lookup[0] < 4
