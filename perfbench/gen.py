"""Seeded input generators.

Every value is a hash of a row id, and the seed shifts the row-id
space (row ids start at ``seed * ROW_SPACE``), so the same seed gives
the same files and another seed gives other values of the same shape.
The engine only ever sees the parquet files (or, for the fragmented
table, the row tuples handed to ``append_rows``) written here.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_SPACE = 10_000_000
EPOCH_US = 1_700_000_000_000_000  # 2023-11-14, base of generated timestamps


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


class Hasher:
    """Field-salted hashes of a seed-shifted row-id range."""

    def __init__(self, seed: int, stream: int):
        self.base = np.uint64(seed * ROW_SPACE + stream * (ROW_SPACE // 16))

    def ids(self, start: int, n: int) -> np.ndarray:
        return self.base + np.arange(start, start + n, dtype=np.uint64)

    @staticmethod
    def bits(ids: np.ndarray, field: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            return _mix(ids ^ (np.uint64(field) * np.uint64(0xD6E8FEB86659FD93)))

    def ints(self, ids: np.ndarray, field: int, lo: int, hi: int) -> np.ndarray:
        """Uniform integers in [lo, hi]."""
        return (self.bits(ids, field) % np.uint64(hi - lo + 1)).astype(np.int64) + lo

    def unit(self, ids: np.ndarray, field: int) -> np.ndarray:
        """Uniform doubles in [0, 1)."""
        return (self.bits(ids, field) >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# tutorial sources: measurements (append) and sensor_info (upsert)
# ---------------------------------------------------------------------------
MEASUREMENTS_SCHEMA = "sensor_id bigint, reading decimal(5,1), event_time timestamp"
SENSOR_INFO_SCHEMA = (
    "sensor_id bigint, latitude double, longitude double, generation int, updated_at timestamp"
)
N_SENSORS = 1000


def tutorial_sources(seed: int, out_dir: str, n_files: int, rows: int, dim_rows: int) -> dict:
    """One parquet file per trigger for each ingest pipeline.

    measurements: sensor_id uniform in [0, 1000], reading in
    [0.0, 45.0] with one decimal (the reference's datagen ranges);
    event_time is unique per row, so a row is identified by it.
    sensor_info: each file upserts ``dim_rows`` distinct keys of
    1..1000 (key 0 never appears, so its measurements wait in the
    lookup retry queue); later files update earlier keys.
    Returns the generated rows as arrow tables for the output checks."""
    h = Hasher(seed, 1)
    m_parts, s_parts = [], []
    for f in range(n_files):
        ids = h.ids(f * rows, rows)
        offs = (ids - h.base).astype(np.int64)
        m = pa.table(
            {
                "sensor_id": pa.array(h.ints(ids, 1, 0, N_SENSORS), pa.int64()),
                "reading": pa.array(
                    [Decimal(int(v)).scaleb(-1) for v in h.ints(ids, 2, 0, 450)],
                    pa.decimal128(5, 1),
                ),
                "event_time": pa.array(EPOCH_US + offs, pa.int64()).cast(pa.timestamp("us")),
            }
        )
        _write(m, os.path.join(out_dir, "measurements", f"part-{f:04d}.parquet"))
        m_parts.append(m)

        d_ids = h.ids(5_000_000 + f * dim_rows, dim_rows)
        # the key schedule is the same for every seed (file f covers the
        # next dim_rows keys of a fixed stride-7 walk), so the lookup's
        # hit rate per trigger does not change with the seed
        keys = 1 + (f * dim_rows + np.arange(dim_rows, dtype=np.int64)) * 7 % N_SENSORS
        d_offs = (d_ids - h.base).astype(np.int64)
        s = pa.table(
            {
                "sensor_id": pa.array(keys, pa.int64()),
                "latitude": pa.array(h.unit(d_ids, 3) * 180.0 - 90.0, pa.float64()),
                "longitude": pa.array(h.unit(d_ids, 4) * 360.0 - 180.0, pa.float64()),
                "generation": pa.array(h.ints(d_ids, 5, 0, 3), pa.int32()),
                "updated_at": pa.array(EPOCH_US + d_offs, pa.int64()).cast(pa.timestamp("us")),
            }
        )
        _write(s, os.path.join(out_dir, "sensor_info", f"part-{f:04d}.parquet"))
        s_parts.append(s)
    return {
        "measurements": pa.concat_tables(m_parts),
        "sensor_info": pa.concat_tables(s_parts),
    }


# ---------------------------------------------------------------------------
# fragmented table for the batch scan
# ---------------------------------------------------------------------------
FRAGMENT_SCHEMA = "row_id bigint, sensor_id bigint, reading double, ts_ms bigint"


def fragment_commits(seed: int, n_commits: int, rows: int) -> list[list[tuple]]:
    """Rows of ``n_commits`` small append commits. row_id and ts_ms
    grow commit by commit, so point and range predicates on them can
    be answered from a few files' min/max stats."""
    h = Hasher(seed, 2)
    out = []
    for c in range(n_commits):
        ids = h.ids(c * rows, rows)
        offs = (ids - h.base).astype(np.int64)
        sensor = h.ints(ids, 1, 0, N_SENSORS)
        reading = h.ints(ids, 2, 0, 450) / 10.0
        ts = 1_700_000_000_000 + offs * 10 + h.ints(ids, 3, 0, 9)
        out.append(
            list(zip(offs.tolist(), sensor.tolist(), reading.tolist(), ts.tolist()))
        )
    return out


def write_commit_files(commits: list[list[tuple]], out_dir: str) -> list[str]:
    """The commits as parquet files, one per commit (the reference side
    of the batch-scan checks)."""
    paths = []
    for c, rows in enumerate(commits):
        cols = list(zip(*rows))
        t = pa.table(
            {
                "row_id": pa.array(cols[0], pa.int64()),
                "sensor_id": pa.array(cols[1], pa.int64()),
                "reading": pa.array(cols[2], pa.float64()),
                "ts_ms": pa.array(cols[3], pa.int64()),
            }
        )
        p = os.path.join(out_dir, f"commit-{c + 1:04d}.parquet")
        _write(t, p)
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# operator-card inputs (the TESTDATA.md star schema + corpus tables)
# ---------------------------------------------------------------------------
_WORDS = (
    "the a data table stream batch query join key value row column part order "
    "line customer window group sort hash merge scan filter agg spark fast slow "
    "small big vector index file commit snapshot sensor reading lake house"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DUP_MIN_WORDS = 40  # 38 shingles: one changed keeps Jaccard >= 37/39


def card_tables(seed: int, out_dir: str, n_docs: int, n_vecs: int, n_orders: int) -> None:
    """documents, embeddings, nation, customer, orders and lineitem with
    the testdata schemas. A tenth of the documents copy an earlier
    document of at least ``DUP_MIN_WORDS`` words with its last word
    replaced, so the near-duplicate cards find pairs. Such a pair shares
    all but one of its 3-word shingles, a Jaccard of at least 0.9, the
    margin x03's LSH banding is exact at. The embeddings sit around ten
    labelled centres."""
    h = Hasher(seed, 3)
    os.makedirs(out_dir, exist_ok=True)

    # documents
    ids = h.ids(0, n_docs)
    n_words = h.ints(ids, 1, 8, 80)
    texts: list[str] = []
    long_docs: list[int] = []  # documents a near-duplicate may copy
    for i in range(n_docs):
        wid = h.ids(1_000_000 + i * 100, int(n_words[i]))
        words = [_WORDS[j] for j in h.ints(wid, 2, 0, len(_WORDS) - 1)]
        if long_docs and h.ints(ids[i : i + 1], 3, 0, 9)[0] == 0:
            src = long_docs[int(h.ints(ids[i : i + 1], 4, 0, len(long_docs) - 1)[0])]
            words = texts[src].split()
            words[-1] = _WORDS[int(h.ints(ids[i : i + 1], 6, 0, len(_WORDS) - 1)[0])]
        if len(words) >= DUP_MIN_WORDS:
            long_docs.append(i)
        texts.append(" ".join(words))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array([_LANGS[j] for j in h.ints(ids, 7, 0, len(_LANGS) - 1)]),
                "source": pa.array([f"src{j}" for j in h.ints(ids, 8, 0, 19)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    # embeddings: 64-d, ten centres, unit length
    dim = 64
    cid = h.ids(2_000_000, 10 * dim)
    centres = (h.unit(cid, 1) * 2.0 - 1.0).reshape(10, dim)
    vids = h.ids(3_000_000, n_vecs)
    labels = h.ints(vids, 1, 0, 9)
    nid = h.ids(4_000_000, n_vecs * dim)
    noise = (h.unit(nid, 2) * 2.0 - 1.0).reshape(n_vecs, dim) * 0.6
    vecs = centres[labels] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )

    # nation / customer / orders / lineitem
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    n_cust = max(10, n_orders // 10)
    cids = h.ids(5_000_000, n_cust)
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(h.ints(cids, 1, 0, 24), pa.int32()),
                "c_acctbal": pa.array(h.ints(cids, 2, -99999, 999999) / 100.0, pa.float64()),
                "c_mktsegment": pa.array(
                    [_SEGMENTS[j] for j in h.ints(cids, 3, 0, len(_SEGMENTS) - 1)]
                ),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    oids = h.ids(6_000_000, n_orders)
    day_us = 86_400_000_000
    o_base = 788_918_400_000_000  # 1995-01-01
    odate = o_base + h.ints(oids, 4, 0, 2400) * day_us
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(h.ints(oids, 1, 0, n_cust - 1), pa.int64()),
                "o_orderstatus": pa.array([("F", "O", "P")[j] for j in h.ints(oids, 2, 0, 2)]),
                "o_totalprice": pa.array(h.ints(oids, 3, 100000, 50000000) / 100.0, pa.float64()),
                "o_orderdate": pa.array(odate, pa.int64()).cast(pa.timestamp("us")),
                "o_orderpriority": pa.array(
                    [_PRIORITIES[j] for j in h.ints(oids, 5, 0, len(_PRIORITIES) - 1)]
                ),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    n_lines = n_orders * 4
    lids = h.ids(7_000_000, n_lines)
    l_order = np.repeat(np.arange(n_orders), 4)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(h.ints(lids, 1, 0, 1999), pa.int64()),
                "l_suppkey": pa.array(h.ints(lids, 2, 0, 99), pa.int64()),
                "l_linenumber": pa.array(np.tile(np.arange(1, 5), n_orders), pa.int32()),
                "l_quantity": pa.array(h.ints(lids, 3, 1, 50).astype(np.float64), pa.float64()),
                "l_extendedprice": pa.array(h.ints(lids, 4, 90000, 10000000) / 100.0, pa.float64()),
                "l_discount": pa.array(h.ints(lids, 5, 0, 10) / 100.0, pa.float64()),
                "l_tax": pa.array(h.ints(lids, 6, 0, 8) / 100.0, pa.float64()),
                "l_returnflag": pa.array([("A", "N", "R")[j] for j in h.ints(lids, 7, 0, 2)]),
                "l_linestatus": pa.array([("F", "O")[j] for j in h.ints(lids, 8, 0, 1)]),
                "l_shipdate": pa.array(
                    odate[l_order] + h.ints(lids, 9, 1, 120) * day_us, pa.int64()
                ).cast(pa.timestamp("us")),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
