"""Output checks of the benchmark, computed apart from the program.

Imports: the generator's record of what it planted (expect.json) gives the
expected rows, rows per year/month partition, a checksum of the surviving
tweetids and a checksum of the text columns. On top of those, the full
import must have the properties of the method: year, month and date equal
to their tweet_time prefixes; each *_array column the trimmed split of its
source; no NULL tweetid left. That every file is sorted by tweetid is
checked by unsorted_files on every timed round of the full import; a round
that fails it is a failed operation.

Mix: each query with a DuckDB twin (SparkEntry.oracleSql, dumped by the
harness) is compared with DuckDB over the same tables, columns sorted by
name and rows in order, values exact. The engine-only queries get property
checks recomputed here from the source tables.

Every check returns a list of problems; an empty list means correct.
"""
import json
import math
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen_tweets import MASK64, TEXT_COLS

ARRAY_COLS = ("hashtags", "urls", "user_mentions")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def mix64_sum(ids):
    """Sum (mod 2^64) of splitmix64 over an int64 array; twin of gen_tweets.mix64."""
    x = ids.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return int(x.sum(dtype=np.uint64)) & MASK64


def text_sum(table):
    crc = zlib.crc32
    s = 0
    for i, c in enumerate(TEXT_COLS):
        s += (i + 1) * sum(crc(v.encode("utf-8")) for v in table.column(c).to_pylist() if v)
    return s


def split_array(src):
    """Enrich.parseArray, restated: strip the brackets, split on ',', trim spaces.
    `src` is a string array; returns a list array, [] for NULL or ''."""
    src = src.combine_chunks() if isinstance(src, pa.ChunkedArray) else src
    empty = pc.fill_null(pc.equal(src, ""), True)
    parts = pc.split_pattern(pc.replace_substring_regex(pc.fill_null(src, ""), r"^\[|\]$", ""), ",")
    trimmed = pa.ListArray.from_arrays(parts.offsets, pc.utf8_trim(parts.values, " "))
    return pc.if_else(empty, pa.scalar([], trimmed.type), trimmed)


def count_unequal_lists(a, b):
    """Rows where two list<string> arrays differ (a NULL list differs from [])."""
    def key(x):
        return pc.binary_join(pc.fill_null(x, pa.scalar([], x.type)), "\x1f")
    same = pc.and_(pc.equal(pc.list_value_length(a), pc.list_value_length(b)),
                   pc.equal(key(a), key(b)))
    return len(a) - (pc.sum(pc.fill_null(same, False)).as_py() or 0)


def unsorted_files(out):
    """Output files whose rows are not in tweetid order (NULLs ignored)."""
    bad = []
    for f in sorted(out.rglob("*.parquet")):
        ids = np.asarray(pq.read_table(f, columns=["tweetid"]).column("tweetid").drop_null(),
                         dtype=np.int64)
        if len(ids) > 1 and not np.all(np.diff(ids) >= 0):
            bad.append(str(f.relative_to(out)))
    return bad


def check_import(workload, out, expect):
    exp = expect[workload]
    problems = []
    files = sorted(out.rglob("*.parquet"))
    if not files:
        return [f"{workload}: no parquet output under {out}"]
    rows, id_sum, txt, nulls = 0, 0, 0, 0
    parts = {}
    for f in files:
        t = pq.read_table(f)
        ids = t.column("tweetid")
        n_null = ids.null_count
        nulls += n_null
        good = np.asarray(ids.drop_null(), dtype=np.int64)
        rows += t.num_rows
        id_sum = (id_sum + mix64_sum(good)) & MASK64
        txt += text_sum(t)
        if workload != "import_tweets":
            continue
        rel = f.relative_to(out).parts
        m = re.fullmatch(r"year=(\d{4})", rel[0]), re.fullmatch(r"month=(\d{2})", rel[1])
        if not all(m):
            problems.append(f"{f.name}: not under year=YYYY/month=MM ({'/'.join(rel)})")
            continue
        y, mo = m[0].group(1), m[1].group(1)
        parts[f"{y}/{mo}"] = parts.get(f"{y}/{mo}", 0) + t.num_rows
        if n_null:
            problems.append(f"{f.name}: {n_null} NULL tweetid survived the cleanse")
        times = t.column("tweet_time")
        good = pc.and_(pc.starts_with(times, f"{y}-{mo}-"),
                       pc.equal(t.column("date"), pc.utf8_slice_codeunits(times, 0, 10)))
        bad = t.num_rows - (pc.sum(pc.fill_null(good, False)).as_py() or 0)
        if bad:
            problems.append(f"{'/'.join(rel)}: {bad} rows whose year/month/date "
                            "differ from their tweet_time prefixes")
        for c in ARRAY_COLS:
            arr = t.column(c + "_array").combine_chunks()
            bad = count_unequal_lists(arr, split_array(t.column(c)))
            if bad:
                problems.append(f"{'/'.join(rel)}: {bad} rows where {c}_array is not the "
                                f"trimmed split of {c}")
    if rows != exp["rows"]:
        problems.append(f"{workload}: {rows} rows written, {exp['rows']} expected")
    if id_sum != exp["id_sum"]:
        problems.append(f"{workload}: tweetid checksum {id_sum} != expected {exp['id_sum']}")
    if txt != exp["text_sum"]:
        problems.append(f"{workload}: text checksum {txt} != expected {exp['text_sum']}")
    if workload == "import_tweets":
        if parts != exp["partitions"]:
            diff = sorted(k for k in set(parts) | set(exp["partitions"])
                          if parts.get(k) != exp["partitions"].get(k))
            problems.append(f"{workload}: rows per year/month differ from the planted "
                            f"record in {len(diff)} partitions, first {diff[:3]}")
    elif nulls != exp["null_ids"]:
        problems.append(f"{workload}: {nulls} NULL tweetids, {exp['null_ids']} planted")
    return problems


# ------------------------------------------------------------------ the mix
def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _duck(tables):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return con


def compare_oracle(con, qdir, sql):
    """DuckDB replica of the oracle gate: names sorted, types and rows exact."""
    spark = con.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    duck = con.sql(sql)
    scols, dcols = sorted(spark.columns), sorted(duck.columns)
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        return f"columns differ: spark={scols} duckdb={dcols}"
    sp = spark.project(", ".join(f'"{c}"' for c in scols))
    dp = duck.project(", ".join(f'"{c}"' for c in dcols))
    if [str(t) for t in sp.types] != [str(t) for t in dp.types]:
        return f"types differ: spark={sp.types} duckdb={dp.types}"
    srows = [tuple(_canon(v) for v in r) for r in sp.fetchall()]
    drows = [tuple(_canon(v) for v in r) for r in dp.fetchall()]
    if len(srows) != len(drows):
        return f"{len(srows)} rows, DuckDB has {len(drows)}"
    for i, (a, b) in enumerate(zip(srows, drows)):
        if a != b:
            return f"row {i} differs: spark={a} duckdb={b}"
    return None


def check_mix(out, tables, queries, failed=()):
    """`queries`: short names (q28, ...) the pass ran; `failed`: full names of
    the query executions that threw, which have no result to check."""
    from mix_props import ENGINE_ONLY
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = _duck(tables)
    qdirs = {p.name.split("_")[0]: p for p in out.iterdir()
             if p.is_dir() and p.name not in failed}
    problems = [f"{q}: no result written" for q in queries
                if q not in qdirs and not any(f.split("_")[0] == q for f in failed)]
    for q, qdir in sorted(qdirs.items()):
        name = qdir.name
        try:
            if name in oracle:
                err = compare_oracle(con, qdir, oracle[name])
            elif q in ENGINE_ONLY:
                err = ENGINE_ONLY[q](con, qdir)
            else:
                err = "neither a DuckDB twin nor a property check"
        except Exception as e:  # a check that cannot run is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            problems.append(f"{name}: {err}")
    return problems
