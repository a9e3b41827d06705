"""The benchmark's workloads: ``interactive_sql`` and ``etl_tx``.

Each workload sets up (session-side registration and warm-up, timed as
part of ``setup_s``), then yields an endless seeded sequence of ops.
An op is ``(kind, name, fn)``; the runner times ``fn()`` and keeps what
it returns for the output check, which runs after the timed window.
"""

from __future__ import annotations

import inspect
import io
import os
import random
import re
from dataclasses import dataclass, field

import pandas as pd

import gen
import oracle
import tracing
from metrics import percentile, tail


@dataclass
class Ctx:
    spark: object
    data_dir: str
    warm_dir: str
    work_dir: str
    seed: int
    tracer: object
    # per-op facts a workload adds for the traced report, by op id
    facts: dict = field(default_factory=dict)


def _arrow(df):
    return df.toArrow()


def _catalyst(ctx: Ctx, df) -> None:
    """In a traced op, time Catalyst's phases on the frame about to run."""
    tr = ctx.tracer
    if tr.enabled:
        ctx.facts.setdefault(tr.op_id, {})["catalyst"] = tracing.catalyst_phases(df)


def _pq_bytes(frame: pd.DataFrame) -> int:
    buf = io.BytesIO()
    frame.to_parquet(buf, index=False)
    return buf.tell()


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self):
        raise NotImplementedError

    def check(self, results: list) -> dict[int, str]:
        """``{op index: reason}`` for every op whose output is wrong."""
        raise NotImplementedError

    def detail(self, samples: list) -> dict[str, float]:
        """Workload-specific numbers (``sql_p50_s``, ``tx_write_amp``...)."""
        return {}

    def op_class(self, kind: str) -> str:
        """The class an op kind's latency is summarized in."""
        return kind

    def after_window(self) -> list:
        """Ops run once after the timed window: timed and checked, but
        reported apart from the window's latency metrics."""
        return []


# ----------------------------------------------------------- interactive_sql
_SQL_POOL = re.compile(
    r"^(flagship_weekly_demand|[jawpnu][0-9]+_|tpch_|events_)|_twin$")


def _family(name: str) -> str:
    if name.endswith("_twin"):
        return "twin"
    return name.split("_")[0] if name.startswith(("tpch_", "events_", "flagship")) \
        else name[0]


def sql_pool() -> list[str]:
    """Read-only registered queries with a DuckDB oracle, in Zipf rank
    order: the families (flagship, tpch, events, streaming twins, then
    the j/a/w/p/n/u operators) take turns, each in registry order, so
    the top ranks hold one query of every family."""
    from zolo_spark import parity_queries as PQ

    fams: dict[str, list[str]] = {}
    for name, spec in PQ.REGISTRY.items():
        if not _SQL_POOL.search(name) or spec.oracle is None:
            continue
        src = inspect.getsource(spec.fn)
        if "Warehouse(" in src or "tempfile" in src:
            continue  # writes a warehouse: not part of the read-only pool
        fams.setdefault(_family(name), []).append(name)
    order = ["flagship", "tpch", "events", "twin"] + sorted(
        f for f in fams if f not in ("flagship", "tpch", "events", "twin"))
    queues = [fams[f] for f in order if f in fams]
    out = []
    for r in range(max(map(len, queues))):
        out.extend(q[r] for q in queues if r < len(q))
    return out


class InteractiveSQL(Workload):
    name = "interactive_sql"
    warmup = ["flagship_weekly_demand", "tpch_q1_pricing_summary",
              "events_session_window"]

    def setup(self):
        from zolo_spark import parity_queries as PQ
        from zolo_spark.warehouse import register_testdata

        self.reg = PQ.REGISTRY
        register_testdata(self.ctx.spark, self.ctx.data_dir)
        for name in self.warmup:
            _arrow(self.reg[name].fn(self.ctx.spark, self.ctx.warm_dir))
            self.ctx.spark.catalog.clearCache()
        self.seq = gen.zipf_sequence(sql_pool(), 5000, s=1.0)

    def ops(self):
        for name in self.seq:
            yield name, name, self._runner(name)

    def _runner(self, name):
        spark, d, tr = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer

        def run():
            with tr.span("plan.build"):
                df = self.reg[name].fn(spark, d)
            _catalyst(self.ctx, df)
            return _arrow(df)
        return run

    def check(self, results):
        con = oracle.duck(self.ctx.data_dir)
        bad, seen = {}, set()
        for i, (kind, name, out) in enumerate(results):
            if out is None or name in seen:
                continue
            seen.add(name)
            why = oracle.same_result(out.to_pandas(),
                                     con.sql(self.reg[name].oracle).df())
            if why:
                bad[i] = f"{name}: {why}"
        return bad

    def op_class(self, kind):
        return "query"

    def detail(self, samples):
        lat = [s["s"] for s in samples]
        out = {"sql_ops": len(lat), "sql_distinct": len({s["name"] for s in samples})}
        if lat:
            out["sql_p50_s"] = percentile(lat, 50)
            out["sql_tail_s"], out["sql_tail_q"] = tail(lat)
        return out


# ------------------------------------------------------------------ etl_tx
# CDC targets, one per write mode. A cow write rewrites the files that
# hold deletion vectors and clears them, so on a shared table the mor
# deletion-vector stack would never reach auto_compact_dvs (6).
_MIRRORS = {"mor": "cdc_mirror", "cow": "cdc_mirror_cow"}
_ETL_TABLES = {"square": ("square_trans", "square_trans_details"),
               "shopify": ("shopify_trans", "shopify_trans_details"),
               "quickbooks": ("qb_trans", "qb_trans_details")}
# op kind -> weight in the mix. The reference runs each ETL once a
# night and has no CDC or read traffic of its own, so these weights are
# assumptions: equal shares for the three loads; mor CDC often enough
# that auto-compaction fires once within the measured ops; cow CDC as
# often as loads; about half the ops are reads.
_ETL_MIX = {
    "square_etl": 4, "shopify_etl": 4, "quickbooks_etl": 4,
    "merge_mor": 6, "update_mor": 4, "delete_mor": 4,
    "merge_cow": 4, "update_cow": 2, "delete_cow": 2,
    "lookup_hot": 14, "lookup_cold": 8, "scan": 14,
}
WRITE_KINDS = {k for k in _ETL_MIX if not k.startswith(("lookup", "scan"))}
_FORECASTS = ["m_arima_weekly_forecast", "m_holt_weekly_forecast",
              "m_ses_weekly_forecast"]


class EtlTx(Workload):
    """The reference's nightly run on one default ``Warehouse``: API loads
    and CDC writes beside point lookups and filtered scans in the timed
    window, then the nightly jobs once, as in a fresh nightly JVM: the
    three-model forecast, the dedup index and ingest-time dedup of a
    batch of new documents."""
    name = "etl_tx"
    warmup = ["square_etl", "merge_mor", "update_cow", "lookup_hot", "scan"]
    # A load is three API pages. Shopify's page (50) and QuickBooks' (25)
    # are the reference's, as the pipelines' PAGE_SIZE; the reference
    # pages Square by token with no size of its own, so its page of 50
    # is an assumption.
    pages_per_load = 3
    square_page = 50
    # no CDC in the reference: batch size and key skew are assumptions
    cdc_batch = 40
    dedup_batch_size = 100

    def setup(self):
        from pyspark.sql import functions as F

        from zolo_spark.pipelines import quickbooks_etl, shopify_etl, square_etl
        from zolo_spark.state import WatermarkStore
        from zolo_spark.warehouse import Warehouse

        spark = self.ctx.spark
        self.F = F
        self.etl = {"square": square_etl, "shopify": shopify_etl,
                    "quickbooks": quickbooks_etl}
        self.root = os.path.join(self.ctx.work_dir, "warehouse")
        self.wh = Warehouse(spark, self.root,
                            bloom_cols={t: ["cust_id"] for t in _MIRRORS.values()})
        self.store = WatermarkStore(os.path.join(self.ctx.work_dir, "wm.yml"))
        self.rng = random.Random(self.ctx.seed)
        cust = pd.read_parquet(os.path.join(self.ctx.data_dir, "customer.parquet"))
        self.base = pd.DataFrame({
            "cust_id": cust.c_custkey.astype("int64"),
            "segment": cust.c_mktsegment.astype(str),
            "balance": cust.c_acctbal.astype("float64")})
        self.n_keys = len(self.base)
        self.log: list[tuple] = []       # write ops, in commit order
        self.input_bytes = 0
        self.payloads = {k: [] for k in self.etl}
        self.next_id = {k: 0 for k in self.etl}
        self.next_new_key = 10_000_000
        self.n_reads = 0
        # initial load: four residue-class commits, so every file spans
        # the key domain and only the bloom index can prune lookups
        from zolo_spark import schemas
        for i in range(4):
            part = self.base[self.base.cust_id % 4 == i]
            self.wh.commit_tx({_MIRRORS["mor"]: spark.createDataFrame(
                part, schemas.CDC_MIRROR).coalesce(1)})
        # the cow mirror starts as a zero-copy clone of the loaded table
        self.wh.clone_table(_MIRRORS["mor"], _MIRRORS["cow"])
        # warm-up: one op of each main code path (the other kinds share
        # most of them), replayed by the check like any other write
        for k in self.warmup:
            self._op(k)[2]()
        self.bytes_after_setup = _dir_bytes(self.root)
        self.input_bytes = 0

    def ops(self):
        kinds, weights = zip(*_ETL_MIX.items())
        for k in gen.weighted_sequence(list(kinds), weights, 100_000):
            kind, name, fn = self._op(k)
            yield kind, name, (self._sized(fn) if kind in WRITE_KINDS else fn)

    def after_window(self):
        from zolo_spark import parity_queries as PQ
        from zolo_spark.llm import dedup
        from zolo_spark.warehouse import load_table

        self.reg, self.dedup = PQ.REGISTRY, dedup
        self.docs = load_table(self.ctx.spark, self.ctx.data_dir, "documents")
        n_docs = len(pd.read_parquet(os.path.join(
            self.ctx.data_dir, "documents.parquet"), columns=["doc_id"]))
        self.index_ids, self.batch_ids = gen.dedup_split(
            self.ctx.seed, n_docs, self.dedup_batch_size)
        return [("forecast", "forecast", self._forecast),
                ("index", "dedup_index", self._index),
                ("dedup", "dedup", self._incremental)]

    def _index(self):
        """The dedup index over the documents that are not new, built and
        checkpointed once, as an ingest pipeline keeps it."""
        self.index = self.dedup.build_dedup_index(
            self.docs.filter(self.F.col("doc_id").isin(self.index_ids))
        ).localCheckpoint(eager=True)

    def _forecast(self):
        spark, d, tr = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer
        out = {}
        for n in _FORECASTS:
            with tr.span("plan.build"):
                df = self.reg[n].fn(spark, d)
            out[n] = _arrow(df)
        return out

    def _incremental(self):
        new = self.docs.filter(self.F.col("doc_id").isin(self.batch_ids))
        return _arrow(self.dedup.incremental_minhash_dedup(new, self.index))

    def _sized(self, fn):
        """In traced ops, record the bytes the write added under the root."""
        def run():
            tr = self.ctx.tracer
            if not tr.enabled:
                return fn()
            before = _dir_bytes(self.root)
            out = fn()
            self.ctx.facts.setdefault(tr.op_id, {})["bytes_written"] = (
                _dir_bytes(self.root) - before)
            return out
        return run

    # ---- op factories: parameters are drawn now, in sequence order
    def _op(self, kind: str):
        if kind.endswith("_etl"):
            return self._etl_op(kind[:-4])
        if kind.startswith("merge"):
            return self._merge_op(kind.split("_")[1])
        if kind.startswith(("update", "delete")):
            return self._row_op(*kind.split("_"))
        if kind.startswith("lookup"):
            return self._lookup_op(kind)
        return self._scan_op()

    def _etl_op(self, src: str):
        pagefn = {"square": gen.square_pages, "shopify": gen.shopify_pages,
                  "quickbooks": gen.qb_pages}[src]
        mod = self.etl[src]
        size = self.square_page if src == "square" else mod.PAGE_SIZE
        batch = pagefn(self.rng, self.next_id[src], self.pages_per_load * size)
        self.next_id[src] += len(batch)

        if src == "square":
            def factory(start, end):
                def fetch(token):
                    i = int(token) if token else 0
                    nxt = i + size
                    return batch[i:nxt], (str(nxt) if nxt < len(batch) else None)
                return fetch
        else:
            def factory(start, end):
                def count():
                    return len(batch)
                if src == "shopify":
                    def page(p):
                        return batch[(p - 1) * size:p * size]
                else:
                    def page(pos):
                        return batch[pos - 1:pos - 1 + size]
                return count, page

        def run():
            mod.run(self.ctx.spark, self.wh, self.store, factory,
                    transactional=True)
            self.payloads[src].extend(batch)
            self.log.append(("etl", src))
            self.input_bytes += _payload_bytes(batch)
        return f"{src}_etl", f"{src}_etl", run

    def _keys(self, k: int) -> list[int]:
        return gen.hot_keys(self.rng, self.n_keys, k)

    def _merge_op(self, mode: str):
        keys = self._keys(self.cdc_batch)
        rows = []
        for key in keys:
            u = self.rng.random()
            rows.append((key, self.rng.choice(gen._SEGMENTS) + "_V",
                         round(self.rng.uniform(-999, 9999), 2), u < 0.15))
        for _ in range(self.cdc_batch // 10):
            rows.append((self.next_new_key, "NEW", round(self.rng.uniform(0, 100), 2),
                         False))
            self.next_new_key += 1
        upd = pd.DataFrame(rows, columns=["cust_id", "segment", "balance", "_deleted"])

        def run():
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField("cust_id", T.LongType()),
                T.StructField("segment", T.StringType()),
                T.StructField("balance", T.DoubleType()),
                T.StructField("_deleted", T.BooleanType())])
            df = self.ctx.spark.createDataFrame(upd, schema)
            self.wh.merge_tx(_MIRRORS[mode], df, ["cust_id"],
                             delete_col="_deleted", mode=mode)
            self.log.append(("merge", _MIRRORS[mode], upd))
            self.input_bytes += _pq_bytes(upd)
        return f"merge_{mode}", f"merge_{mode}", run

    def _row_op(self, what: str, mode: str):
        keys = self._keys(self.cdc_batch // 4)
        cond = f"cust_id IN ({', '.join(map(str, keys))})"
        delta = float(self.rng.randint(1, 50))
        table = _MIRRORS[mode]

        def run():
            if what == "update":
                self.wh.update_tx(table, {"balance": f"balance + {delta}"},
                                  cond, keys=["cust_id"], mode=mode)
                self.log.append(("update", table, keys, delta))
            else:
                self.wh.delete_tx(table, cond, keys=["cust_id"], mode=mode)
                self.log.append(("delete", table, keys))
        return f"{what}_{mode}", f"{what}_{mode}", run

    def _read_table(self) -> str:
        """Reads alternate between the two mirrors."""
        self.n_reads += 1
        return _MIRRORS["mor" if self.n_reads % 2 else "cow"]

    def _lookup_op(self, kind: str):
        table = self._read_table()
        hot = max(1, int(self.n_keys * 0.02))
        key = (self.rng.randrange(hot) if kind == "lookup_hot"
               else self.rng.randrange(hot, self.n_keys))

        def run():
            out = self.wh.point_lookup(table, {"cust_id": key}).toArrow()
            if self.ctx.tracer.enabled:
                # cust_id is the mirror's key: a hit is one live row in
                # exactly one of the files read
                read, total = self.wh.last_point_lookup
                self.ctx.facts.setdefault(self.ctx.tracer.op_id, {}).update(
                    lookup=(read, total, min(read, out.num_rows)))
            return (len(self.log), ("lookup", table, key), out)
        return kind, kind, run

    def _scan_op(self):
        table = self._read_table()
        lo = round(self.rng.uniform(-999, 9000), 2)
        hi = lo + 500.0

        def run():
            F = self.F
            df = (self.wh.read_committed_tx(table)
                  .filter((F.col("balance") >= lo) & (F.col("balance") < hi)))
            _catalyst(self.ctx, df)
            return (len(self.log), ("scan", table, lo, hi), df.toArrow())
        return "scan", "scan", run

    # ---- output check: DuckDB replay of the write log
    def check(self, results):
        import duckdb

        con = duckdb.connect()
        con.register("base", self.base)
        for t in _MIRRORS.values():
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM base")
        reads: dict[int, list[tuple[int, tuple, object]]] = {}
        bad: dict[int, str] = {}
        seen = set()
        for i, (kind, name, out) in enumerate(results):
            if out is None or name in seen:
                continue
            if kind == "forecast":
                seen.add(name)
                bad.update({i: why for why in [self._check_forecast(out)] if why})
            elif kind == "dedup":
                seen.add(name)
                why = self._check_incremental(out.to_pandas())
                if why:
                    bad[i] = f"{name}: {why}"
            else:
                reads.setdefault(out[0], []).append((i, out[1], out[2]))

        def check_reads(at: int):
            for i, q, tbl in reads.get(at, []):
                if q[0] == "lookup":
                    want = con.sql(f"SELECT * FROM {q[1]} WHERE cust_id = {q[2]}").df()
                else:
                    want = con.sql(f"SELECT * FROM {q[1]} WHERE balance >= {q[2]} "
                                   f"AND balance < {q[3]}").df()
                why = oracle.same_result(tbl.to_pandas(), want)
                if why:
                    bad[i] = f"{q[0]}: {why}"

        check_reads(0)
        for n, entry in enumerate(self.log, start=1):
            what, t = entry[:2]
            if what == "merge":
                con.register("u", entry[2])
                con.execute(f"DELETE FROM {t} WHERE cust_id IN (SELECT cust_id FROM u)")
                con.execute(f"INSERT INTO {t} SELECT cust_id, segment, balance "
                            "FROM u WHERE NOT _deleted")
            elif what == "update":
                con.execute(f"UPDATE {t} SET balance = balance + {entry[3]} "
                            f"WHERE cust_id IN ({', '.join(map(str, entry[2]))})")
            elif what == "delete":
                con.execute(f"DELETE FROM {t} WHERE cust_id IN "
                            f"({', '.join(map(str, entry[2]))})")
            check_reads(n)
        self.final_bytes = 0
        for t in _MIRRORS.values():
            final = self.wh.read_committed_tx(t).toPandas()
            why = oracle.same_result(final, con.sql(f"SELECT * FROM {t}").df())
            if why:
                bad[-1 - len(bad)] = f"final {t}: {why}"
            self.final_bytes += _pq_bytes(final)
        for src, (hdr, det) in _ETL_TABLES.items():
            why = self._check_etl(src, hdr, det)
            if why:
                bad[-1 - len(bad)] = f"final {src}: {why}"
        return bad

    def _check_etl(self, src: str, hdr: str, det: str) -> str | None:
        """Keys, row counts and money totals of the loaded pair against
        the payloads that were fed in."""
        p = self.payloads[src]
        h = self.wh.read_committed_tx(hdr).toPandas()
        d = self.wh.read_committed_tx(det).toPandas()
        self.final_bytes += _pq_bytes(h) + _pq_bytes(d)
        if src == "square":
            keys = {x["payment_id"] for x in p}
            n_det = sum(len(x["itemizations"]) for x in p)
            total = sum(i["total_money"]["amount"] for x in p
                        for i in x["itemizations"]) / 100.0
            got_keys, got_total = set(h.payment_id), d.dollars.sum()
        elif src == "shopify":
            keys = {str(x["id"]) for x in p}
            n_det = sum(len(x["line_items"]) for x in p)
            total = sum(float(i["price"]) for x in p for i in x["line_items"])
            got_keys, got_total = set(h.order_id), d.price.sum()
        else:
            keys = {x["DocNumber"] for x in p}
            lines = [ln for x in p for ln in x["Line"] if ln["Id"] is not None]
            n_det = len(lines)
            total = sum(ln["SalesItemLineDetail"]["UnitPrice"] or 0.0 for ln in lines)
            got_keys, got_total = set(h.payment_id), d.price.fillna(0).sum()
        if got_keys != keys or len(h) != len(keys):
            return f"header keys {len(got_keys)}/{len(h)} rows != {len(keys)}"
        if len(d) != n_det:
            return f"detail rows {len(d)} != {n_det}"
        if abs(got_total - total) > 1e-6 * max(1.0, abs(total)):
            return f"money total {got_total} != {total}"
        return None

    def _check_forecast(self, out: dict) -> str | None:
        con = oracle.duck(self.ctx.data_dir)
        for n, tbl in out.items():
            got = tbl.to_pandas()
            why = (_arima_sane(got) if n == "m_arima_weekly_forecast"
                   else oracle.same_result(got, con.sql(self.reg[n].oracle).df()))
            if why:
                return f"{n}: {why}"
        return None

    def _check_incremental(self, got) -> str | None:
        """The registered incremental-dedup oracle (full-corpus LSH, pairs
        touching the new batch), re-pointed at this run's split."""
        import duckdb

        from zolo_spark import queries_llm

        split = queries_llm._INCR_SPLIT
        old = f"l.doc_id >= {split} OR r.doc_id >= {split}"
        sql = self.reg["llm_incremental_dedup"].oracle
        if old not in sql:
            return "registered oracle no longer has the split predicate"
        sql = sql.replace(old, "l.doc_id IN (SELECT id FROM new_ids) "
                               "OR r.doc_id IN (SELECT id FROM new_ids)")
        con = duckdb.connect()
        con.register("keep_ids", pd.DataFrame({"id": self.index_ids + self.batch_ids}))
        con.register("new_ids", pd.DataFrame({"id": self.batch_ids}))
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.ctx.data_dir}/documents.parquet' "
                    f"WHERE doc_id IN (SELECT id FROM keep_ids)")
        return oracle.same_result(got, con.sql(sql).df())

    def op_class(self, kind):
        return "write" if kind in WRITE_KINDS else kind

    def detail(self, samples):
        window = [s for s in samples if not s["after"]]
        w = [s["s"] for s in window if s["kind"] in WRITE_KINDS]
        r = [s["s"] for s in window if s["kind"] not in WRITE_KINDS]
        out = {"tx_writes": len(w), "tx_reads": len(r)}
        if w:
            out["tx_write_p50_s"] = percentile(w, 50)
            out["tx_write_tail_s"], out["tx_write_tail_q"] = tail(w)
        if r:
            out["tx_read_p50_s"] = percentile(r, 50)
            out["tx_read_tail_s"], out["tx_read_tail_q"] = tail(r)
        for s in samples:
            key = {"forecast": "forecast_job_s", "index": "llm_dedup_index_s",
                   "dedup": "llm_incremental_batch_s"}.get(s["kind"])
            if key:
                out[key] = s["s"]
        written = _dir_bytes(self.root) - self.bytes_after_setup
        if self.input_bytes:
            out["tx_write_amp"] = written / self.input_bytes
        if getattr(self, "final_bytes", 0):
            out["tx_space_amp"] = _dir_bytes(self.root) / self.final_bytes
        out["files_live"] = sum(self.wh.describe_detail(t)["num_files"]
                                for t in _MIRRORS.values())
        out["log_versions"] = self.wh.current_tx_version()
        return out


def _payload_bytes(batch: list[dict]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pylist(batch), buf)
    return buf.tell()


def _arima_sane(df) -> str | None:
    """Structural check of the ARIMA forecast. Its registered oracle
    pins grid winners per graded data set, so on generated data only
    the shape and the interval invariants can be checked."""
    if len(df) != 25 or df.profile_name.nunique() != 25:
        return f"{len(df)} rows for 25 series"
    if not ((df.lower_bound <= df.prediction) & (df.prediction <= df.upper_bound)
            & (df.std_error >= 0)).all():
        return "prediction outside its interval"
    if not df.best_config.str.fullmatch(r"\(\d, \d, \d\)").all():
        return "malformed best_config"
    return None


WORKLOADS = {w.name: w for w in (InteractiveSQL, EtlTx)}
