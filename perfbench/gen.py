"""Seeded input generator for the benchmark.

Everything the program under test receives is made here: from the
workload seed, the ten star-schema tables (same names, column types and
value domains as the sf0.1 test tables), the API payload pages for the
three ETLs (shaped by the raw schemas in ``zolo_spark/schemas.py``), the
CDC change batches with hot-key skew, and the split of the document
corpus for incremental dedup; and the Zipf-weighted op sequences.

Same seed, same bytes: every draw goes through one ``numpy`` generator
or ``random.Random`` seeded from ``(seed, purpose)``.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pandas as pd

# Row counts of the sf0.1 test tables.
SIZES = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
# Documents in the measured corpus (sf0.1 has 5,000); embeddings are 40%
# of it. The smaller corpus keeps the dedup jobs inside a run's budget.
DOCS = 1000
# Row-count scale of the warm-up tables against the measured ones.
WARM_SCALE = 0.01

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def rng_for(seed: int, purpose: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding a draw
    to one input never shifts another."""
    tag = int.from_bytes(purpose.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag, len(purpose)])


def _ts(start: dt.datetime, offsets_s: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (offsets_s * 1_000_000).astype("timedelta64[us]")


def tables(seed: int, scale: float = 1.0,
           docs: int = DOCS) -> dict[str, pd.DataFrame]:
    """The ten input tables as pandas frames, ``scale`` times the sf0.1
    row counts, with ``docs`` documents (embeddings: 40% of that)."""
    r = rng_for(seed, f"tables-{scale}")
    n = {t: max(1, int(c * scale)) for t, c in SIZES.items()}
    n.update(region=5, nation=25, documents=docs,
             embeddings=max(1, int(docs * 0.4)))
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": r.choice(_SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(np.char.add(r.choice(adj, npart), " "),
                              r.choice(noun, npart)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], npart),
        "p_size": r.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1)})
    no = n["orders"]
    span_o = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": r.integers(0, nc, no),
        "o_orderstatus": r.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           r.integers(0, span_o + 1, no) * 86400),
        "o_orderpriority": r.choice(_PRIORITIES, no)})
    nl = n["lineitem"]
    span_l = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, no, nl),
        "l_partkey": r.integers(0, npart, nl),
        "l_suppkey": r.integers(0, ns, nl),
        "l_linenumber": r.integers(1, 8, nl).astype("int32"),
        "l_quantity": r.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], nl),
        "l_linestatus": r.choice(["F", "O"], nl),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          r.integers(0, span_l + 1, nl) * 86400)})
    ne = n["events"]
    offs = np.sort(r.uniform(0, 30 * 86400, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1), offs),
        "user_id": r.integers(0, 1500, ne),
        "event_type": r.choice(_EVENT_TYPES, ne),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    out["documents"] = _documents(r, n["documents"])
    out["embeddings"] = _embeddings(r, n["embeddings"])
    return out


def _documents(r: np.random.Generator, n: int) -> pd.DataFrame:
    """Bag-of-words documents with ~5% near duplicates (an earlier
    document plus one word) and a few exact copies, 20 sources."""
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(r.integers(0, i))])
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(r.choice(_VOCAB, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": r.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def _embeddings(r: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit vectors around 10 labelled cluster centres, 64 dims."""
    centres = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n)
    v = centres[label] + r.normal(0, 1.2, (n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(v.astype("float32")),
        "label": label.astype("int32")})


def write_tables(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(1, "embedding", tbl.column("embedding").cast(
                pa.list_(pa.float32())))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------- sequences
def weighted_sequence(items: list, weights, n: int) -> list:
    """``n`` picks of ``items`` in proportion to ``weights``, as a
    low-discrepancy sequence: pick ``j`` is the item whose cumulative
    weight interval holds ``(j * phi) mod 1``, with the golden-ratio
    stride ``phi``. Every prefix follows the weights closely. The
    sequence does not depend on the seed: runs with different seeds get
    different data, keys and payloads but the same mix of ops, so their
    numbers differ by the data, not by which ops a short run drew."""
    w = np.asarray(weights, dtype="float64")
    cum = np.cumsum(w / w.sum())
    u0 = 0.0
    phi = (5 ** 0.5 - 1) / 2
    u = (u0 + phi * np.arange(n)) % 1.0
    idx = np.minimum(np.searchsorted(cum, u, side="right"), len(items) - 1)
    return [items[i] for i in idx]


def zipf_sequence(names: list[str], n: int, s: float) -> list[str]:
    """``n`` queries over ``names`` with Zipf(s) weights by list rank."""
    return weighted_sequence(names, 1.0 / np.arange(1, len(names) + 1) ** s, n)


# ----------------------------------------------------------- ETL payloads
def square_pages(rng: random.Random, first: int, n: int) -> list[dict]:
    """Square payments (RAW_SQUARE_PAYMENTS shape)."""
    base = dt.datetime(2024, 1, 1, 14, 0)
    out = []
    for i in range(first, first + n):
        items = []
        for _ in range(rng.randint(1, 5)):
            mods = None if rng.random() < 0.3 else [
                {"name": rng.choice(["oat", "extra shot", "decaf"])}
                for _ in range(rng.randint(1, 2))]
            items.append({
                "quantity": float(rng.randint(1, 4)),
                "item_variation_name": f"var_{rng.randint(1, 9)}",
                "item_detail": {"item_variation_id": f"sq_{rng.randint(1, 30)}"},
                "total_money": {"amount": rng.randrange(100, 5000)},
                "modifiers": mods})
        tender = None if rng.random() < 0.2 else [{
            "tendered_money": {"amount": rng.randrange(500, 10000)},
            "change_back_money": {"amount": rng.randrange(0, 500)}}]
        ts = base + dt.timedelta(minutes=rng.randrange(0, 60 * 24 * 56))
        out.append({
            "payment_id": f"pay_{i:07d}",
            "created_at": ts.isoformat() + "Z",
            "device": {"name": rng.choice(["reg_1", "reg_2"])},
            "itemizations": items, "tender": tender})
    return out


def shopify_pages(rng: random.Random, first: int, n: int) -> list[dict]:
    """Shopify orders (RAW_SHOPIFY_ORDERS shape)."""
    base = dt.datetime(2024, 1, 2, 15, 0)
    return [{
        "id": 900_000 + i,
        "created_at": (base + dt.timedelta(
            minutes=rng.randrange(0, 60 * 24 * 56))).isoformat() + "Z",
        "line_items": [{
            "quantity": str(rng.randint(1, 5)),
            "variant_id": rng.randint(100, 130),
            "price": f"{rng.randrange(500, 3000) / 100:.2f}"}
            for _ in range(rng.randint(1, 4))],
        "shipping_lines": [] if rng.random() < 0.25
        else [{"price": f"{rng.randrange(300, 900) / 100:.2f}"}],
    } for i in range(first, first + n)]


def qb_pages(rng: random.Random, first: int, n: int) -> list[dict]:
    """QuickBooks invoices (RAW_QB_INVOICES shape)."""
    base = dt.date(2024, 1, 2)
    out = []
    for i in range(first, first + n):
        lines = []
        for j in range(rng.randint(1, 3)):
            if rng.random() < 0.2:
                detail = {"ItemRef": {"value": f"qb_{rng.randint(1, 25)}"},
                          "Qty": None, "UnitPrice": None}
            else:
                detail = {"ItemRef": {"value": f"qb_{rng.randint(1, 25)}"},
                          "Qty": float(rng.randint(1, 6)),
                          "UnitPrice": rng.randrange(400, 2500) / 100}
            lines.append({"Id": str(j + 1), "SalesItemLineDetail": detail})
        lines.append({"Id": None, "SalesItemLineDetail": None})
        out.append({
            "DocNumber": f"inv_{i:07d}",
            "TxnDate": (base + dt.timedelta(days=rng.randrange(0, 56))).isoformat(),
            "CustomerRef": {"value": f"cust_{rng.randint(1, 40)}"},
            "Line": lines})
    return out


# ------------------------------------------------------------ CDC batches
def hot_keys(rng: random.Random, n_keys: int, k: int,
             hot_share: float = 0.8, hot_frac: float = 0.02) -> list[int]:
    """``k`` distinct keys of ``range(n_keys)``: ``hot_share`` of them
    from the hottest ``hot_frac`` of the key space (skewed CDC)."""
    hot = max(1, int(n_keys * hot_frac))
    keys: set[int] = set()
    while len(keys) < k:
        keys.add(rng.randrange(hot) if rng.random() < hot_share
                 else rng.randrange(n_keys))
    return sorted(keys)


def dedup_split(seed: int, n_docs: int, batch: int) -> tuple[list[int], list[int]]:
    """Document ids for the dedup index, and a batch of ``batch`` new
    document ids drawn from the rest."""
    perm = rng_for(seed, "dedup").permutation(n_docs)
    return (sorted(int(x) for x in perm[batch:]),
            sorted(int(x) for x in perm[:batch]))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description="write the benchmark's input tables")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warm", required=True, help="the warm-up tables go here")
    a = ap.parse_args()
    write_tables(tables(a.seed), a.out)
    write_tables(tables(a.seed, WARM_SCALE,
                        docs=max(50, int(DOCS * WARM_SCALE))), a.warm)


if __name__ == "__main__":
    main()
