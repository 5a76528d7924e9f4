"""Property checks of the mix's engine-only queries (no DuckDB twin).

Each check reads the query's result and recomputes what it can from the
source tables on its own: the SimHash pair list by brute force, MinHash
estimates against the exact Jaccard, and reported cosine scores from the
embeddings. A check returns None when the result holds, else a one-line
reason.
"""
import glob

import numpy as np
import pyarrow.parquet as pq

COS_TOL = 1.5e-6   # results are rounded to 6 decimals; summation order differs
# A 32-hash MinHash estimate has standard deviation sqrt(J(1-J)/32) <= 0.0884;
# four of them bound how far it may sit from the exact Jaccard.
MINHASH_TOL = 4 * 0.0884
M64 = (1 << 64) - 1
P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc, lane):
    return (_rotl((acc + lane * P2) & M64, 31) * P1) & M64


def xxh64(data, seed=42):
    """XXH64 of a byte string, as Spark's xxhash64 computes it (seed 42),
    as an unsigned 64-bit value (Spark shows the same bits as a BIGINT)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for x in v:
            h = ((h ^ _round(0, x)) * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h = ((_rotl(h ^ _round(0, int.from_bytes(data[i:i + 8], "little")), 27)) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * P1 & M64), 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * P5 & M64), 11) * P1) & M64
        i += 1
    h = ((h ^ (h >> 33)) * P2) & M64
    h = ((h ^ (h >> 29)) * P3) & M64
    return h ^ (h >> 32)


def _words(text):
    return [w for w in (text or "").split(" ") if w]


def _rows(qdir):
    return pq.read_table(sorted(glob.glob(f"{qdir}/*.parquet"))).to_pylist()


def _vectors(con):
    rows = con.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
    return {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in rows}


def _cos(a, b):
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def _ordered(rows, key):
    keys = [key(r) for r in rows]
    return keys == sorted(keys)


def q37(con, qdir):
    """MinHash pairs: each estimate near the exact word-3-shingle Jaccard."""
    rows = _rows(qdir)
    if not 0 < len(rows) <= 50 or any(not 0.0 <= r["est_jaccard"] <= 1.0 or
                                      r["id1"] >= r["id2"] for r in rows):
        return "not 1-50 rows, est_jaccard outside [0, 1] or id1 >= id2"
    key = lambda r: (-r["est_jaccard"], r["id1"], r["id2"])  # noqa: E731
    if not _ordered(rows, key):
        return "not ordered by est_jaccard desc, id1, id2"
    docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())

    def shingles(i):
        w = _words(docs[i])
        return {" ".join(w[j:j + 3]) for j in range(max(1, len(w) - 2))}
    for r in rows:
        a, b = shingles(r["id1"]), shingles(r["id2"])
        exact = len(a & b) / len(a | b)
        if abs(r["est_jaccard"] - exact) > MINHASH_TOL:
            return (f"pair ({r['id1']}, {r['id2']}): estimate {r['est_jaccard']} but "
                    f"exact Jaccard {exact:.4f}")
    return None


def q39(con, qdir):
    """SimHash pairs: the 50 first pairs within Hamming distance 7, recomputed
    by brute force over all document pairs."""
    rows = _rows(qdir)
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    hashes = {}
    ids, fps = [], []
    for i, text in docs:
        counts = [0] * 64
        for w in _words(text):
            h = hashes.get(w)
            if h is None:
                h = hashes[w] = xxh64(w.encode("utf-8"))
            for b in range(64):
                counts[b] += 1 if h >> b & 1 else -1
        ids.append(i)
        fps.append(sum(1 << b for b in range(64) if counts[b] > 0))
    pairs = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = bin(fps[x] ^ fps[y]).count("1")
            if d <= 7:
                pairs.append((d, min(ids[x], ids[y]), max(ids[x], ids[y])))
    want = [{"id1": a, "id2": b, "hamming": d} for d, a, b in sorted(pairs)[:50]]
    if rows != want:
        diff = next((k for k, (g, w) in enumerate(zip(rows, want)) if g != w),
                    min(len(rows), len(want)))
        return (f"{len(rows)} rows, recomputed {len(want)}; first difference at row {diff}: "
                f"{rows[diff] if diff < len(rows) else None} vs "
                f"{want[diff] if diff < len(want) else None}")
    return None


def q114(con, qdir):
    rows = _rows(qdir)
    vec = _vectors(con)
    if len(rows) != 50 or len({(r["id1"], r["id2"]) for r in rows}) != 50:
        return f"{len(rows)} rows, 50 distinct pairs expected"
    if not _ordered(rows, lambda r: (-r["score"], r["id1"], r["id2"])):
        return "not ordered by score desc, id1, id2"
    for r in rows:
        if r["id1"] == r["id2"]:
            return f"self pair {r['id1']}"
        c = _cos(vec[r["id1"]], vec[r["id2"]])
        if abs(r["score"] - c) > COS_TOL:
            return f"pair ({r['id1']}, {r['id2']}): score {r['score']} but cosine is {c:.8f}"
    return None


ENGINE_ONLY = {"q37": q37, "q39": q39, "q114": q114}
