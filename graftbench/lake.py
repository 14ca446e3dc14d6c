"""Inputs and independent output checks of the lake_roundtrip workload.

`generate` writes a lineitem table shaped like the repository's sf0.1
testdata (600 000 rows, one parquet file with one row group) from a seed,
and its first 60 000 rows as a separate file for the set-up's warm-up round.
`check` compares what the program wrote against the source with DuckDB and
with an FNV-1a / rotating-keystream implementation written here, apart
from the program.
"""

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROWS = 600_000
WARM_ROWS = 60_000  # the warm-up file: the first rows of the same table
MASK64 = (1 << 64) - 1

# (column, key id, codec, mode) as in graftbench/src/graftbench/Lake.scala
POLICIES = [
    ("l_orderkey", "k-orderkey", "xor", "per_value"),
    ("l_returnflag", "k-returnflag", "xor", "per_value"),
    ("l_partkey", "k-partkey", "xor", "per_block"),
    ("l_extendedprice", "k-price", "aes_det", "per_value"),
    ("l_linestatus", "k-status", "aes_det", "per_value"),
    ("l_shipdate", "k-shipdate", "aes_rnd", "per_value"),
]


def generate(work, seed):
    """Every column drawn independently and uniformly, in no particular row
    order, as in the repository's sf0.1 testdata `lineitem` (see README,
    "Inputs and seeds", for the measured comparison)."""
    rng = np.random.default_rng(seed)
    n = ROWS
    day0 = np.datetime64("1995-01-02", "us")
    ship = day0 + rng.integers(0, 2_499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    table = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    pq.write_table(table, os.path.join(work, "lineitem.parquet"), row_group_size=n)
    os.mkdir(os.path.join(work, "warm"))
    pq.write_table(table.slice(0, WARM_ROWS), os.path.join(work, "warm", "lineitem.parquet"))


def fnv1a64(data):
    h = 0xCBF29CE484222325
    for b in data:
        h = ((h ^ b) * 0x100000001B3) & MASK64
    return h


def keystream(seed, length):
    out = np.empty(length, np.uint8)
    h = seed
    for i in range(length):
        out[i] = h & 0xFF
        h = ((h << 1) | (h >> 31)) & MASK64
    return out


def _read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files])


def _flat_binary(col):
    """(offsets, data) of a chunked binary/string column, as numpy arrays."""
    arr = pa.concat_arrays([c.cast(pa.large_binary()) for c in col.chunks])
    if arr.null_count:
        raise ValueError("unexpected nulls")
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], np.int64)[arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], np.uint8)
    return offsets - offsets[0], data[offsets[0]:offsets[-1]]


def expected_xor_cells(plain_offsets, plain_data, key_seed, mode):
    """Framed xor cells: magic, version, mode, u32 LE length, value ^ keystream."""
    plen = np.diff(plain_offsets)
    n = len(plen)
    cell_len = 7 + plen
    starts = np.concatenate(([0], np.cumsum(cell_len)[:-1]))
    out = np.empty(int(cell_len.sum()), np.uint8)
    header = np.zeros((n, 7), np.uint8)
    header[:, 0], header[:, 1], header[:, 2] = 0xD8, 1, mode
    for b in range(4):
        header[:, 3 + b] = (plen >> (8 * b)) & 0xFF
    out[(starts[:, None] + np.arange(7)).ravel()] = header.ravel()
    pos = np.arange(len(plain_data)) - np.repeat(plain_offsets[:-1], plen)
    ks = keystream(key_seed, int(plen.max()) if n else 0)
    out[np.repeat(starts + 7, plen) + pos] = plain_data ^ ks[pos]
    return np.concatenate(([0], np.cumsum(cell_len))), out


def _sorted_cells(offsets, data):
    """The cells given as (offsets, data), as a sorted binary array."""
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(offsets) - 1,
        [None, pa.py_buffer(np.ascontiguousarray(offsets, np.int64)),
         pa.py_buffer(np.ascontiguousarray(data))])
    return arr.take(pc.sort_indices(arr))


def _plain_bytes(col):
    """Little-endian value bytes of a source column, as (offsets, data)."""
    if pa.types.is_integer(col.type):
        data = np.ascontiguousarray(col.to_numpy().astype("<i8")).view(np.uint8)
        return np.arange(0, len(data) + 1, 8), data
    return _flat_binary(col)


def check(work):
    """List of (name, ok, detail) for the lake outputs in `work`."""
    results = []
    src_path = os.path.join(work, "lineitem.parquet")
    source = pq.read_table(src_path)
    protected = _read_dir(os.path.join(work, "protected"))

    con = duckdb.connect()
    src = f"read_parquet('{src_path}')"
    rev = f"read_parquet('{os.path.join(work, 'revealed')}/*.parquet')"
    prot = f"read_parquet('{os.path.join(work, 'protected')}/*.parquet')"
    cols = ", ".join(source.column_names)
    rev_cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rev}").fetchall()]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {src} EXCEPT ALL "
                          f"SELECT {cols} FROM {rev})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {rev} EXCEPT ALL "
                        f"SELECT {cols} FROM {src})").fetchone()[0]
    ok = missing == 0 and extra == 0 and rev_cols == source.column_names
    results.append(("lake.revealed_equals_source", ok,
                    f"{missing} source rows missing, {extra} extra rows, "
                    f"columns {'match' if rev_cols == source.column_names else rev_cols}"))

    for column, _key, codec, _mode in POLICIES:
        if codec == "aes_rnd":
            continue
        a, b = con.execute(f"SELECT (SELECT count(DISTINCT {column}) FROM {src}), "
                           f"(SELECT count(DISTINCT {column}) FROM {prot})").fetchone()
        results.append((f"lake.distinct_kept.{column}", a == b,
                        f"{a} distinct plaintexts, {b} distinct ciphertexts"))

    for column, key, codec, mode in POLICIES:
        if codec != "xor":
            continue
        col = source.column(column)
        offs, data = _plain_bytes(col)
        variable = pa.types.is_string(col.type)
        mode_byte = 0x02 if mode == "per_block" else (0x10 if variable else 0x11)
        seed = fnv1a64(f"{key}:{column}::".encode())
        want_offs, want = expected_xor_cells(offs, data, seed, mode_byte)
        # compared as sorted multisets: xor is deterministic, so the check
        # holds whatever order the program writes the rows in
        want_cells = _sorted_cells(want_offs, want)
        got_cells = _sorted_cells(*_flat_binary(protected.column(column)))
        bad = -1 if len(got_cells) != len(want_cells) else \
            int(pc.sum(pc.not_equal(got_cells, want_cells)).as_py() or 0)
        results.append((f"lake.xor_recompute.{column}", bad == 0,
                        f"{len(got_cells)} cells, {len(want_cells)} expected" if bad < 0 else
                        f"{bad} of {len(want_cells)} cells differ (sorted multisets)"))
    return results
