"""Seeded input generator for the benchmark.

Every table the workloads read is written here from ``numpy`` draws keyed by
the seed, with the schemas and value domains of the package's star-schema
test data (customer, orders, lineitem, nation, region, events, documents,
embeddings) plus a directory of Debezium-envelope CDC frame files.

The seed decides key shifts, row order, values and the positions of injected
rows; it never decides a count. Row counts, the share of malformed and
tombstone CDC frames and the share of near-duplicate documents are the same
for every seed, so the work per run is fixed. Writing is single-threaded and
deterministic: the same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SPORTS = ["Course à pied", "Marche", "Vélo", "Natation", "Randonnée",
          "Trottinette", "Roller", "Escalade", "Football", "Basketball",
          "Tennis", "Badminton", "Yoga", "Musculation", "Pilates",
          "Boxe", "Danse", "Gymnastique", "Judo", "Karaté", "Escrime"]
COMMENTS = ["Super seance", "Tres bonne session", "Fatigue mais content",
            "Record personnel battu", "Seance difficile"]
CDC_TOPIC = "sport.sport_advantages.sport_activities"
EPOCH_2024_US = 1_704_067_200_000_000


@dataclass(frozen=True)
class Sizes:
    """Row counts per generated table. Fixed per workload, never per seed."""
    customers: int = 2000
    users: int = 400          # distinct event user_ids (<< customers)
    events: int = 8000
    orders: int = 8000
    lineitems: int = 30000
    documents: int = 600
    near_dup_share: float = 0.05
    embeddings: int = 600
    dim: int = 64
    clusters: int = 10
    cdc_files: int = 120
    cdc_rows_per_file: int = 1000
    cdc_bad_share: float = 0.01   # each of: schema-only frames, tombstones


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)
    return table.num_rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n, start="1995-01-01", span=2500) -> np.ndarray:
    base = np.datetime64(start, "us").astype("int64")
    return base + rng.integers(0, span, n) * 86_400_000_000


def write_star(out: str, seed: int, sz: Sizes, tables: tuple[str, ...]) -> dict:
    """Write the requested star tables as ``<out>/<name>.parquet``.
    Returns ``{name: rows}``."""
    rng = np.random.default_rng([seed, 1])
    shift = int(rng.integers(0, 500))  # seeded key shift, count-neutral
    rows: dict[str, int] = {}
    cust_keys = rng.permutation(sz.customers) + shift
    user_ids = rng.choice(cust_keys, sz.users, replace=False)
    order_keys = rng.permutation(sz.orders) + shift

    def want(name: str) -> bool:
        return name in tables

    if want("region"):
        rows["region"] = _write(pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}), f"{out}/region.parquet")
    if want("nation"):
        rows["nation"] = _write(pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
            f"{out}/nation.parquet")
    if want("customer"):
        rows["customer"] = _write(pa.table({
            "c_custkey": pa.array(cust_keys, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
            "c_nationkey": pa.array(rng.integers(0, 25, sz.customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, sz.customers), 2),
            "c_mktsegment": [SEGMENTS[i] for i in
                             rng.integers(0, 5, sz.customers)]}),
            f"{out}/customer.parquet")
    if want("orders"):
        rows["orders"] = _write(pa.table({
            "o_orderkey": pa.array(order_keys, pa.int64()),
            "o_custkey": pa.array(rng.choice(cust_keys, sz.orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in
                              rng.integers(0, 3, sz.orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, sz.orders), 2),
            "o_orderdate": _ts(_days(rng, sz.orders, "1992-01-01", 3500)),
            "o_orderpriority": [PRIORITIES[i] for i in
                                rng.integers(0, 5, sz.orders)]}),
            f"{out}/orders.parquet")
    if want("lineitem"):
        n = sz.lineitems
        rows["lineitem"] = _write(pa.table({
            "l_orderkey": pa.array(rng.choice(order_keys, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days(rng, n, "1995-01-02", 2500))}),
            f"{out}/lineitem.parquet")
    if want("events"):
        n = sz.events
        ev_ids = np.sort(rng.permutation(n * 2)[:n]) + shift
        rows["events"] = _write(pa.table({
            "event_id": pa.array(ev_ids, pa.int64()),
            "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(
                0, 30 * 86_400_000_000, n))),
            "user_id": pa.array(rng.choice(user_ids, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 100, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in
                      rng.integers(0, 100, n)]}),
            f"{out}/events.parquet")
    if want("documents"):
        rows["documents"] = _write(_documents(rng, sz), f"{out}/documents.parquet")
    if want("embeddings"):
        rows["embeddings"] = _write(_embeddings(rng, sz), f"{out}/embeddings.parquet")
    return rows


def _documents(rng, sz: Sizes) -> pa.Table:
    """Documents over the star corpus' 30-word vocabulary. A fixed share
    are near-duplicates of an earlier document (one token replaced), at
    seeded positions; ids stay below the catalog's +2000 near-dup shift."""
    n = sz.documents
    texts: list[str] = []
    for _ in range(n):
        texts.append(" ".join(WORDS[i] for i in
                              rng.integers(0, len(WORDS), rng.integers(8, 90))))
    n_dup = int(round(n * sz.near_dup_share))
    dup_at = rng.choice(np.arange(1, n), n_dup, replace=False)
    for i in dup_at:
        toks = texts[int(rng.integers(0, i))].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    ids = rng.permutation(n) + int(rng.integers(0, 2000 - n))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, sz: Sizes) -> pa.Table:
    """Unit vectors drawn around ``clusters`` seeded centres, so the IVF
    and PQ recall floors hold on every seed."""
    centres = rng.standard_normal((sz.clusters, sz.dim))
    label = rng.integers(0, sz.clusters, sz.embeddings)
    x = centres[label] + 0.6 * rng.standard_normal((sz.embeddings, sz.dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(sz.embeddings), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


CDC_SCHEMA = pa.schema([
    ("key", pa.string()), ("value", pa.string()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us"))])


def _envelope(i: int, emp: int, us: int, sidx: int, dist, dur: int,
              comment) -> str:
    after = {"id": i, "id_employee": emp, "first_name": f"Fn_{emp}",
             "last_name": f"Ln_{emp}", "start_datetime": us,
             "sport_type": SPORTS[sidx], "distance": dist,
             "activity_duration": dur, "comment": comment}
    return json.dumps({"payload": {"before": None, "after": after, "op": "c"}},
                      ensure_ascii=False, separators=(",", ":"))


def write_cdc(out: str, seed: int, sz: Sizes, files_per_dir: int) -> dict:
    """Write ``cdc_files`` parquet files of Kafka-record frames (one file
    = one micro-batch under ``maxFilesPerTrigger=1``), ``files_per_dir``
    to a directory, as ``<out>/chunk-<kk>/part-<nnnnn>.parquet``. Exactly
    ``cdc_bad_share`` of the frames are schema-only envelopes and as many
    are NULL tombstones, at seeded positions. Returns row and byte
    counts."""
    rng = np.random.default_rng([seed, 2])
    n = sz.cdc_files * sz.cdc_rows_per_file
    n_bad = int(round(n * sz.cdc_bad_share))
    bad = rng.permutation(n)[:2 * n_bad]
    kind = np.zeros(n, dtype=np.int8)
    kind[bad[:n_bad]] = 1   # schema-only frame: no payload.after
    kind[bad[n_bad:]] = 2   # tombstone: NULL value
    ids = rng.permutation(n) + int(rng.integers(1, 1_000_000))
    emps = rng.integers(0, 5000, n)
    us = EPOCH_2024_US + rng.integers(0, 30 * 86_400_000_000, n)
    sidx = rng.integers(0, len(SPORTS), n)
    dist = rng.integers(500, 50000, n)
    dur = rng.integers(600, 7200, n)
    com = rng.integers(0, 10, n)
    total_bytes = 0
    per = sz.cdc_rows_per_file
    for f in range(sz.cdc_files):
        keys, vals = [], []
        for j in range(f * per, (f + 1) * per):
            i = int(ids[j])
            keys.append(f'{{"payload":{{"id":{i}}}}}')
            if kind[j] == 2:
                vals.append(None)
            elif kind[j] == 1:
                vals.append('{"schema":{"type":"struct"}}')
            else:
                s = int(sidx[j])
                vals.append(_envelope(
                    i, int(emps[j]), int(us[j]), s,
                    None if s >= 12 else int(dist[j]), int(dur[j]),
                    COMMENTS[int(com[j])] if com[j] < 5 else None))
        sl = slice(f * per, (f + 1) * per)
        t = pa.table({
            "key": keys, "value": vals,
            "topic": [CDC_TOPIC] * per,
            "partition": pa.array(np.zeros(per), pa.int32()),
            "offset": pa.array(np.arange(sl.start, sl.stop), pa.int64()),
            "timestamp": _ts(us[sl])}, schema=CDC_SCHEMA)
        path = f"{out}/chunk-{f // files_per_dir:02d}/part-{f:05d}.parquet"
        _write(t, path)
        total_bytes += os.path.getsize(path)
    return {"frames": n, "valid": int((kind == 0).sum()),
            "bytes": total_bytes}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
