"""Small tx sidecars resolved on the driver: deletion vectors applied
at plan time versus the distributed broadcast anti-join they replace
below ``_DRIVER_SIDECAR_MAX_ROWS``, the job budgets that buys, and the
staging edge cases of the row-level no-op paths.

Every equivalence test reads the SAME committed files twice — once
through the driver-side path, once with the constant forced to 0 (the
distributed path) — and checks both against a copy-on-write twin that
applied the same ops with no deletion vectors at all."""

from __future__ import annotations

import os

import pytest

import zolo_spark.warehouse as W
from zolo_spark import schemas
from zolo_spark.warehouse import Warehouse

LMIN, LMAX = -2**63, 2**63 - 1
UPD = "cust_id long, segment string, balance double, _deleted boolean"


def _base(spark):
    rows = [(v, s, float(i)) for i, (v, s) in enumerate(
        [(LMIN, "o'k"), (LMAX, "Grüße-鍵-✓"), (-1, "it's"), (0, "x"),
         (1, "o'k"), (5, "y"), (-123456789012, "z"), (None, "nullkey"),
         (42, None)])]
    rows += [(i * 31 - 400, f"c{i % 7}", i * 0.5) for i in range(40)]
    return spark.createDataFrame(rows, schemas.CDC_MIRROR)


# Each op runs with mode="mor" on the mirror and mode="cow" on the twin.
# Together they put NULL keys on both sides (base rows, a NULL update
# key in a DV), negative longs, Long.MIN/MAX, and a string-keyed DV
# whose values hold quotes and non-ASCII characters.
def _ops(spark):
    return [
        lambda w, m: w.merge_tx("cdc_mirror", spark.createDataFrame(
            [(LMIN, "o'k", 1.5, False), (-1, "Grüße-鍵-✓", 2.5, False),
             (5, "x", 0.0, True), (None, "nk2", 3.0, False),
             (10**6, "new", 4.0, False)], UPD),
            ["cust_id"], delete_col="_deleted", mode=m),
        lambda w, m: w.delete_tx(
            "cdc_mirror", f"cust_id IN (0, {LMAX})",
            keys=["cust_id"], mode=m),
        lambda w, m: w.merge_tx("cdc_mirror", spark.createDataFrame(
            [(5, "back", 9.0, False), (LMIN, "it's", 8.0, False)], UPD),
            ["cust_id"], delete_col="_deleted", mode=m),
        lambda w, m: w.delete_tx(
            "cdc_mirror", "segment IN ('it''s', 'Grüße-鍵-✓')",
            keys=["segment"], mode=m),
        lambda w, m: w.update_tx(
            "cdc_mirror", {"balance": "balance + 1"},
            "cust_id IN (1, -123456789012)", keys=["cust_id"], mode=m),
        lambda w, m: w.merge_tx("cdc_mirror", spark.createDataFrame(
            [(1, "o'k", 7.0, False), (42, "back", 6.0, False),
             (-369, "c3", 0.0, True)], UPD),
            ["cust_id"], delete_col="_deleted", mode=m),
    ]


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


PROBES = [{"cust_id": v} for v in
          (LMIN, LMAX, -1, 0, 1, 5, 42, 10**6, -123456789012, -369)] + [
    {"cust_id": 5.0},                 # not exact-typed: no narrowing
    {"segment": "o'k"}, {"segment": "it's"}, {"segment": "back"},
    {"cust_id": 1, "segment": "o'k"}]


def _twins(spark, tmp_path, n_ops):
    mor = Warehouse(spark, str(tmp_path / "mor"), auto_compact_dvs=None,
                    bloom_cols={"cdc_mirror": ["cust_id"]})
    cow = Warehouse(spark, str(tmp_path / "cow"), auto_compact_dvs=None)
    for w in (mor, cow):
        # two one-file base commits: segments at two commit versions
        w.commit_tx({"cdc_mirror": _base(spark).filter("balance < 5")
                     .coalesce(1)})
        w.commit_tx({"cdc_mirror": _base(spark).filter(
            "NOT (balance < 5)").coalesce(1)})
    for op in _ops(spark)[:n_ops]:
        op(mor, "mor")
        op(cow, "cow")
    return mor, cow


@pytest.mark.parametrize("n_dvs", [1, 3, 6])
def test_dv_read_paths_agree(spark, tmp_path, monkeypatch, n_dvs):
    mor, cow = _twins(spark, tmp_path, n_dvs)
    txs = mor._effective_txs(mor._read_txlog())
    dvs = mor._replay_dvs(txs, "cdc_mirror")
    assert len(dvs) == n_dvs
    pschema = mor._physical_schema(mor._tx_fields("cdc_mirror", txs))
    assert mor._dv_key_sets("cdc_mirror", dvs, pschema) is not None

    def reads():
        return ([_rows(mor.read_committed_tx("cdc_mirror"))]
                + [_rows(mor.point_lookup("cdc_mirror", p))
                   for p in PROBES])

    driver = reads()
    monkeypatch.setattr(W, "_DRIVER_SIDECAR_MAX_ROWS", 0)
    assert mor._dv_key_sets("cdc_mirror", dvs, pschema) is None
    distributed = reads()
    expected = ([_rows(cow.read_committed_tx("cdc_mirror"))]
                + [_rows(cow.point_lookup("cdc_mirror", p))
                   for p in PROBES])
    assert driver == distributed == expected
    assert len(expected[0]) > 40


def test_composite_key_dv_takes_distributed_path(spark, tmp_path):
    """A (cust_id, segment) DV is outside the driver-side rule at any
    size: the read falls back to the broadcast anti-join and still
    equals the cow twin."""
    mor, cow = _twins(spark, tmp_path, 2)
    upd = spark.createDataFrame(
        [(1, "o'k", 70.0, False), (5, "nope", 1.0, False),
         (None, "nullkey", 2.0, False)], UPD)
    for w, m in ((mor, "mor"), (cow, "cow")):
        w.merge_tx("cdc_mirror", upd, ["cust_id", "segment"],
                   delete_col="_deleted", mode=m)
    txs = mor._effective_txs(mor._read_txlog())
    dvs = mor._replay_dvs(txs, "cdc_mirror")
    pschema = mor._physical_schema(mor._tx_fields("cdc_mirror", txs))
    assert mor._dv_key_sets("cdc_mirror", dvs, pschema) is None
    assert (_rows(mor.read_committed_tx("cdc_mirror"))
            == _rows(cow.read_committed_tx("cdc_mirror")))
    for p in PROBES:
        assert (_rows(mor.point_lookup("cdc_mirror", p))
                == _rows(cow.point_lookup("cdc_mirror", p))), p


def test_dv_affected_files_paths_agree(spark, tmp_path, monkeypatch):
    """The files a REWRITE must materialize under live DVs are the
    same whichever path classifies them — and a cow delete on top
    (which materializes them and clears the DVs) equals the twin."""
    mor, cow = _twins(spark, tmp_path, 4)
    txs = mor._effective_txs(mor._read_txlog())
    fields = mor._tx_fields("cdc_mirror", txs)
    files = mor._replay_files(txs, "cdc_mirror")
    dvs = mor._replay_dvs(txs, "cdc_mirror")
    driver = mor._dv_affected_files("cdc_mirror", fields, txs, dvs, files)
    monkeypatch.setattr(W, "_DRIVER_SIDECAR_MAX_ROWS", 0)
    distributed = mor._dv_affected_files("cdc_mirror", fields, txs, dvs,
                                         files)
    # both one-file base commits hold DV-hidden rows (LMIN, 0 and LMAX
    # in the first; 5 in the second), as do two of the first merge's
    # postimage files (LMIN and -1, hidden by later DVs)
    assert driver == distributed
    assert set(files[:2]) <= driver and len(driver) == 5
    monkeypatch.undo()
    for w in (mor, cow):
        w.delete_tx("cdc_mirror", "cust_id = 42")
    assert (_rows(mor.read_committed_tx("cdc_mirror"))
            == _rows(cow.read_committed_tx("cdc_mirror")))
    assert mor._replay_dvs(
        mor._effective_txs(mor._read_txlog()), "cdc_mirror") == []


# ---- job budgets (counted through a job group + statusTracker)

def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through its own job group
    (the listener bus is drained before counting)."""
    import uuid

    sc = spark.sparkContext
    gid = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_small_bloom_commit_runs_no_index_job(spark, tmp_path):
    """A bloom-indexed commit of an update-sized batch costs the same
    jobs as the unindexed commit: the index builds on the driver."""
    rows = _base(spark).localCheckpoint()
    plain = Warehouse(spark, str(tmp_path / "plain"))
    indexed = Warehouse(spark, str(tmp_path / "idx"),
                        bloom_cols={"cdc_mirror": ["cust_id"]})
    n_plain = _jobs(spark, lambda: plain.commit_tx({"cdc_mirror": rows}))
    n_indexed = _jobs(spark,
                      lambda: indexed.commit_tx({"cdc_mirror": rows}))
    assert n_indexed == n_plain
    assert indexed._bloom_entries(
        indexed._all_txs(indexed._read_txlog()), "cdc_mirror")


def test_mor_reads_with_three_dvs_run_one_job(spark, tmp_path):
    """Three live DVs add no job to a read: a full read's collect and
    a bloom-pruned point lookup each run exactly ONE Spark job."""
    mor, _ = _twins(spark, tmp_path, 3)
    assert len(mor._replay_dvs(mor._effective_txs(mor._read_txlog()),
                               "cdc_mirror")) == 3
    assert _jobs(spark, lambda: mor.read_committed_tx(
        "cdc_mirror").collect()) == 1
    assert _jobs(spark, lambda: mor.point_lookup(
        "cdc_mirror", {"cust_id": 1}).collect()) == 1


# ---- staging edge cases

def test_no_op_mor_ops_leave_no_batch_dir_when_nothing_staged(
        spark, tmp_path, monkeypatch):
    """A writer that emits only ``_SUCCESS`` for an empty plan stages
    no parquet at all: the no-op path of a mor DELETE/UPDATE must
    still remove the batch dir it created."""
    from pyspark.sql.readwriter import DataFrameWriter

    wh = Warehouse(spark, str(tmp_path / "wh"), auto_compact_dvs=None)
    wh.commit_tx({"cdc_mirror": _base(spark)})
    orig = DataFrameWriter.parquet

    def parquet_dropping_empty(self, path, *a, **kw):
        import pyarrow.parquet as pq

        orig(self, path, *a, **kw)
        for fn in os.listdir(path):
            f = os.path.join(path, fn)
            if (fn.endswith(".parquet")
                    and pq.ParquetFile(f).metadata.num_rows == 0):
                os.remove(f)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_dropping_empty)
    root = wh.path("cdc_mirror")
    before = set(os.listdir(root))
    v = wh.current_tx_version()
    wh.delete_tx("cdc_mirror", "cust_id = 777", keys=["cust_id"],
                 mode="mor")
    wh.update_tx("cdc_mirror", {"balance": "0"}, "cust_id = 777",
                 keys=["cust_id"], mode="mor")
    assert wh.current_tx_version() == v
    assert set(os.listdir(root)) == before
