#!/usr/bin/env python3
"""Generate literal-VALUES DuckDB oracle SQL for the LSH hash queries.

The five core function queries (lsh_min_text, lsh_min32_text,
lsh_min_shingles, lsh_euclidean_embed, lsh_euclidean32_embed) emit raw hash
values that plain SQL cannot recompute — but a VALUES literal is still ANSI
SQL. This tool re-derives every row with the *Python* implementation of the
reference pipeline in verify_kernels.py (itself validated bit-exact against
every golden vector in /root/reference/test/sql/lsh/*.test on import), runs
it over the sf0.01 fixtures, and writes each result as a
`SELECT ... FROM (VALUES ...)` statement into src/main/resources/oracles/.

Planted inputs (HTML pages, URLs, template spam, the curation corpora, the
BPE merge list, ...) are never rebuilt here: `graft.Verify` writes every
table of SparkEntry.fixtures into a fixture directory, and this tool reads
those tables (load_fixture), so both engines see exactly the same rows.
What stays in Python is the independent re-derivation of each OPERATOR,
which is what the gates check, plus the adequacy asserts over the rows.

Python-vs-Scala is a genuinely independent implementation check: the two
sides share no code, only the published algorithm (rustc-hash FxHash64,
rand 0.8.5 StdRng/ChaCha12, ziggurat normal, saturating f64->u64).  The
embeddings fixture is d=64, so this also covers the dot-product
accumulation-order regime the d=5 goldens cannot reach (SURVEY §7.5.3).

Usage: python3 tools/gen_oracles.py sfDir fixtureDir [sparkOutDir]
  sfDir        testdata dir (the oracles are pinned at sf0.01)
  fixtureDir   planted-fixture tables, written by
               `graft.Verify <sfDir> <outDir> <fixtureDir>` over the SAME
               sfDir; a missing table or column exits nonzero naming the
               fixture and the directory, and so do tables whose doc_ids
               or pass-through columns disagree with sfDir's documents
  sparkOutDir  optional Verify output dir; when present every generated row
               set is cross-checked against the Spark parquet before the SQL
               is written (mismatch -> nonzero exit, nothing written).
"""
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import verify_kernels as vk  # noqa: E402  (runs the golden gate on import)

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "src", "main", "resources", "oracles")

M64 = (1 << 64) - 1


def s64(u):
    """u64 bit pattern -> signed 64 (Spark LongType representation)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def s32(u):
    """low-32 truncation -> signed 32 (lsh_*32 semantics, lib.rs:23-27)."""
    u &= 0xFFFFFFFF
    return u - (1 << 32) if u >= (1 << 31) else u


class EuclideanFamily:
    """A/b draws hoisted out of the per-row loop (identical output: the
    reference reseeds per row, so every row sees the same draws)."""

    def __init__(self, r, band_count, band_size, seed, d):
        rng = vk.StdRng(seed)
        self.r, self.band_size, self.d = r, band_size, d
        self.bands = []
        for _ in range(band_count):
            A = [[vk.std_normal(rng) for _ in range(band_size)] for _ in range(d)]
            b = [rng.uniform_f64(0.0, r) for _ in range(band_size)]
            self.bands.append((A, b))

    def hash(self, x):
        import math
        out = []
        for A, b in self.bands:
            comps = []
            for j in range(self.band_size):
                acc = 0.0
                for k in range(self.d):
                    acc += x[k] * A[k][j]
                v = math.ceil((acc + b[j]) / self.r)
                comps.append(0 if v < 0 else (int(v) if v <= M64 else M64))
            f = vk.Fx().add(1).add(self.band_size)
            for c in comps:
                f.add(c)
            out.append(f.fin())
        return out


# ---- SimHash / fingerprint kernels (mirror graft.core.SimHash) ----

def token_hash(cps):
    """FxHash64 of code points, length-prefixed, no u32 truncation."""
    f = vk.Fx().add(len(cps))
    for c in cps:
        f.add(c)
    return f.fin()


def simhash64(text):
    votes = [0] * 64
    any_token = False
    for tok in text.split(" "):
        if not tok:
            continue
        any_token = True
        h = token_hash([ord(c) for c in tok])
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    if not any_token:
        return 0
    out = 0
    for b in range(64):
        if votes[b] > 0:
            out |= 1 << b
    return out


def min_fingerprint(text, k):
    cps = [ord(c) for c in text]
    n = len(cps) - k + 1
    if n <= 0:
        return 0
    return min(token_hash(cps[i:i + k]) for i in range(n))


def winnow(text, k, w):
    """Sliding-window winnowing (Schleimer et al. 2003): min k-gram hash per
    window of w positions, window sliding by 1; dedup, ascending unsigned."""
    cps = [ord(c) for c in text]
    n = len(cps) - k + 1
    if n <= 0:
        return []
    hashes = [token_hash(cps[i:i + k]) for i in range(n)]
    out = set()
    for start in range(max(1, n - w + 1)):
        out.add(min(hashes[start:start + w]))
    return sorted(out)


def hamming(a, b):
    return bin(a ^ b).count("1")


# ---- Spark-compatible xxhash64 over one BIGINT column + a literal seed ----

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _xxh64_long(value, seed):
    """XXH64 of one 8-byte (long) input — Spark's XXH64.hashLong."""
    h = (seed + _P5 + 8) & M64
    k1 = (_rotl((value * _P2) & M64, 31) * _P1) & M64
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & M64
    h ^= h >> 33
    h = (h * _P2) & M64
    h ^= h >> 29
    h = (h * _P3) & M64
    h ^= h >> 32
    return h


def spark_xxhash64(row_id, seed_lit):
    """Spark `xxhash64(id, lit(seed))`: children fold left from seed 42."""
    h = _xxh64_long(row_id & M64, 42)
    return s64(_xxh64_long(seed_lit & M64, h))


# ---- cosine / top-k (mirror graft.api.Ann) ----

def cosine(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    import math
    return dot / (math.sqrt(na) * math.sqrt(nb))


def topk_rows(cand, vecs, k):
    """cand: {query_id: set(neighbor_id)} -> (query_id, rank, neighbor_id, sim)
    rows ranked by (sim desc, neighbor_id), rank 1-based."""
    rows = []
    for qid in sorted(cand):
        scored = sorted(((cosine(vecs[qid], vecs[nid]), nid) for nid in cand[qid]),
                        key=lambda t: (-t[0], t[1]))
        for rank, (sim, nid) in enumerate(scored[:k], start=1):
            rows.append((qid, rank, nid, sim))
    return rows


def nearest_centroid(v, cs):
    best, bestd = 0, float("inf")
    for c, cent in enumerate(cs):
        dist = 0.0
        for x, y in zip(v, cent):
            t = x - y
            dist += t * t
        if dist < bestd:
            bestd, best = dist, c
    return best


def nearest_centroids(v, cs, n):
    scored = []
    for c, cent in enumerate(cs):
        dist = 0.0
        for x, y in zip(v, cent):
            t = x - y
            dist += t * t
        scored.append((dist, c))
    scored.sort()
    return [c for _, c in scored[:n]]


def kmeans_centroids(vecs, nlist, seed, iters, sample_size):
    """Mirror graft.api.Ann.trainQuantizer(initFromSample=true): hash-ordered
    sample, centroids initialized from the first nlist DISTINCT sample
    vectors, Lloyd's in accumulation order. Returns the centroid list."""
    order = sorted(vecs, key=lambda vid: (spark_xxhash64(vid, seed), vid))[:sample_size]
    sample = [vecs[vid] for vid in order]
    d = len(sample[0])
    # distinct init vectors, first-seen order (mirrors the Scala dedup walk:
    # bit-equal init centroids could never separate under strict-< ties)
    picked, seen = [], set()
    for v in sample:
        if len(picked) >= nlist:
            break
        t = tuple(v)
        if t not in seen:
            seen.add(t)
            picked.append(v)
    centroids = [list(picked[i % len(picked)]) for i in range(nlist)]
    for _ in range(iters):
        sums = [[0.0] * d for _ in range(nlist)]
        counts = [0] * nlist
        for v in sample:
            c = nearest_centroid(v, centroids)
            counts[c] += 1
            for j in range(d):
                sums[c][j] += v[j]
        centroids = [centroids[c] if counts[c] == 0
                     else [sums[c][j] / counts[c] for j in range(d)]
                     for c in range(nlist)]
    return centroids


def kmeans_cells(vecs, nlist, seed, iters, sample_size):
    """NearestCell assignment under [[kmeans_centroids]]: {vec_id: cell}."""
    cents = kmeans_centroids(vecs, nlist, seed, iters, sample_size)
    return {vid: nearest_centroid(v, cents) for vid, v in vecs.items()}


def centroid_dist(v, cent):
    """Squared L2 in index order (mirrors CentroidModel.nearestDist)."""
    dist = 0.0
    for x, y in zip(v, cent):
        t = x - y
        dist += t * t
    return dist


def ivf_topk_rows(vecs, k, nlist, nprobe, seed, iters, sample_size):
    """Mirror graft.api.Ann.ivfTopK incl. the seeded-hash sample order (the
    Lloyd's float accumulation order is part of the bit-exact contract)."""
    d = len(next(iter(vecs.values())))
    order = sorted(vecs, key=lambda vid: (spark_xxhash64(vid, seed), vid))[:sample_size]
    sample = [vecs[vid] for vid in order]
    rng = vk.StdRng(seed)
    centroids = [[vk.std_normal(rng) for _ in range(d)] for _ in range(nlist)]
    for _ in range(iters):
        sums = [[0.0] * d for _ in range(nlist)]
        counts = [0] * nlist
        for v in sample:
            c = nearest_centroid(v, centroids)
            counts[c] += 1
            for j in range(d):
                sums[c][j] += v[j]
        centroids = [centroids[c] if counts[c] == 0
                     else [sums[c][j] / counts[c] for j in range(d)]
                     for c in range(nlist)]
    cells = {vid: nearest_centroid(v, centroids) for vid, v in vecs.items()}
    cand = {}
    for qid in (vid for vid in vecs if vid < 10):
        probes = set(nearest_centroids(vecs[qid], centroids, nprobe))
        cand[qid] = {nid for nid, c in cells.items() if c in probes and nid != qid}
    return topk_rows(cand, vecs, k)


def fit_pq_books(vecs, m, ksub, seed, iters, sample_size):
    """PQ codebooks under the Spark training: per-subspace Lloyd's with
    std_normal init from StdRng(seed), over the xxhash64(id, seed)-ordered
    sample, subspace-major draw order. The ONE book-training mirror —
    pqTopK passes its stream seed directly, fitIvfPq's mirrors pass
    seed + 1 (the books train on an independent stream there). Every
    float step is fixed-order IEEE."""
    d = len(next(iter(vecs.values())))
    dsub = d // m
    order = sorted(vecs, key=lambda vid: (spark_xxhash64(vid, seed), vid))[:sample_size]
    sample = [vecs[vid] for vid in order]
    rng = vk.StdRng(seed)
    books = [[[vk.std_normal(rng) for _ in range(dsub)] for _ in range(ksub)]
             for _ in range(m)]
    for s in range(m):
        sub = [v[s * dsub:(s + 1) * dsub] for v in sample]
        cents = books[s]
        for _ in range(iters):
            sums = [[0.0] * dsub for _ in range(ksub)]
            counts = [0] * ksub
            for v in sub:
                c = nearest_centroid(v, cents)
                counts[c] += 1
                for j in range(dsub):
                    sums[c][j] += v[j]
            cents = [cents[c] if counts[c] == 0
                     else [sums[c][j] / counts[c] for j in range(dsub)]
                     for c in range(ksub)]
        books[s] = cents
    return books


def pq_encode(vecs, books, m):
    """Corpus codes under frozen `books` (nearest sub-centroid per subspace)."""
    dsub = len(books[0][0])
    return {vid: [nearest_centroid(v[s * dsub:(s + 1) * dsub], books[s])
                  for s in range(m)]
            for vid, v in vecs.items()}


def pq_topk_rows(vecs, k, m, ksub, seed, iters, sample_size):
    """Mirror graft.api.Ann.pqTopK: per-subspace Lloyd's codebooks (same
    seeded-hash sample and subspace-major draw order), corpus codes,
    per-query ADC tables, (adist asc, neighbor_id asc) top-k. Every float
    step is fixed-order IEEE, so the pinned adist doubles are bit-exact."""
    d = len(next(iter(vecs.values())))
    dsub = d // m
    books = fit_pq_books(vecs, m, ksub, seed, iters, sample_size)
    codes = pq_encode(vecs, books, m)
    rows = []
    for qid in sorted(vid for vid in vecs if vid < 10):
        q = vecs[qid]
        table = []
        for s in range(m):
            trow = []
            for c in range(ksub):
                cent = books[s][c]
                dist = 0.0
                for j in range(dsub):
                    t = q[s * dsub + j] - cent[j]
                    dist += t * t
                trow.append(dist)
            table.append(trow)
        scored = []
        for nid, cs in codes.items():
            if nid == qid:
                continue
            acc = 0.0
            for s in range(m):
                acc += table[s][cs[s]]
            scored.append((acc, nid))
        scored.sort()
        for rank, (adist, nid) in enumerate(scored[:k], 1):
            rows.append((qid, rank, nid, adist))
    return rows


def ivfpq_topk_rows(vecs, k, nlist, nprobe, m, ksub, seed, iters, sample_size):
    """Mirror graft.api.Ann.ivfPqTopK: coarse quantizer from stream `seed`
    (sample order xxhash64(id, seed)), PQ codebooks from stream `seed + 1`
    (its OWN sample order, xxhash64(id, seed+1) — Lloyd's accumulation order
    is part of the contract), candidates = probed cells, rank by
    (adist asc, neighbor_id asc)."""
    d = len(next(iter(vecs.values())))
    dsub = d // m
    # coarse quantizer — identical recipe to ivf_topk_rows
    order = sorted(vecs, key=lambda vid: (spark_xxhash64(vid, seed), vid))[:sample_size]
    sample = [vecs[vid] for vid in order]
    rng = vk.StdRng(seed)
    cents = [[vk.std_normal(rng) for _ in range(d)] for _ in range(nlist)]
    for _ in range(iters):
        sums = [[0.0] * d for _ in range(nlist)]
        counts = [0] * nlist
        for v in sample:
            c = nearest_centroid(v, cents)
            counts[c] += 1
            for j in range(d):
                sums[c][j] += v[j]
        cents = [cents[c] if counts[c] == 0
                 else [sums[c][j] / counts[c] for j in range(d)]
                 for c in range(nlist)]
    # PQ codebooks — the shared fit_pq_books mirror, seed+1 streams
    books = fit_pq_books(vecs, m, ksub, seed + 1, iters, sample_size)
    cells = {vid: nearest_centroid(v, cents) for vid, v in vecs.items()}
    codes = pq_encode(vecs, books, m)
    rows = []
    for qid in sorted(vid for vid in vecs if vid < 10):
        q = vecs[qid]
        probes = set(nearest_centroids(q, cents, nprobe))
        table = []
        for s in range(m):
            trow = []
            for c in range(ksub):
                cent = books[s][c]
                dist = 0.0
                for j in range(dsub):
                    t = q[s * dsub + j] - cent[j]
                    dist += t * t
                trow.append(dist)
            table.append(trow)
        scored = []
        for nid, cs in codes.items():
            if nid == qid or cells[nid] not in probes:
                continue
            acc = 0.0
            for s in range(m):
                acc += table[s][cs[s]]
            scored.append((acc, nid))
        scored.sort()
        for rank, (adist, nid) in enumerate(scored[:k], 1):
            rows.append((qid, rank, nid, adist))
    return rows


def lsh_topk_rows(vecs, k, bucket_width, band_count, band_size, seed):
    """Mirror graft.api.Ann.lshBucketedTopK: euclidean band-bucket collisions
    -> exact cosine rank."""
    d = len(next(iter(vecs.values())))
    fam = EuclideanFamily(bucket_width, band_count, band_size, seed, d)
    buckets = {}
    for vid, v in vecs.items():
        for band, h in enumerate(fam.hash(v)):
            buckets.setdefault((band, h), []).append(vid)
    cand = {}
    for qid in (vid for vid in vecs if vid < 10):
        hits = set()
        for band, h in enumerate(fam.hash(vecs[qid])):
            hits.update(buckets.get((band, h), ()))
        hits.discard(qid)
        cand[qid] = hits
    return topk_rows(cand, vecs, k)


def blocking_pairs(customers, w, band_size, seeds, threshold):
    """Mirror graft.api.BandedLsh.bandedSelfJoinPairs at bandCount=1:
    per-seed single-band buckets, union across seeds, exact Jaccard filter."""
    sets = {cid: vk.shingles_from_text(name, w) for cid, name in customers}
    pairs = set()
    for seed in seeds:
        buckets = {}
        for cid, _ in customers:
            h = vk.minhash_bands(sets[cid], 1, band_size, seed)[0]
            buckets.setdefault(h, []).append(cid)
        for ids in buckets.values():
            ids.sort()
            for i in range(len(ids)):
                a = sets[ids[i]]
                for j in range(i + 1, len(ids)):
                    b = sets[ids[j]]
                    if a and b:
                        inter = len(a & b)
                        sim = inter / (len(a) + len(b) - inter)
                    else:
                        sim = 0.0
                    if sim > threshold:
                        pairs.add((ids[i], ids[j]))
    return sorted(pairs)


def word_bigrams(text):
    # Spark split(text, ' ') == Java split limit -1 == Python str.split(' ')
    # with explicit separator: trailing/embedded empties kept.
    words = text.split(" ")
    return [words[i] + " " + words[i + 1] for i in range(len(words) - 1)]


def emit_sql(name, sql, nrows):
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}.sql")
    with open(path, "w") as f:
        f.write(sql)
    print(f"wrote {name}: {nrows} rows, {os.path.getsize(path)} bytes")


def sql_lit(v):
    """Render one Python value as a SQL literal: str quotes (with ''
    doubling), everything else keeps its repr — so oracle rows stay RAW
    Python values and the parquet crosscheck compares them directly.
    Floats are quoted: DuckDB parses a BARE numeric literal as DECIMAL
    first (dropping the 17th significant digit) before any DOUBLE cast,
    while CAST('<repr>' AS DOUBLE) parses the shortest-round-trip repr
    back to the identical bits."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return "'" + repr(v) + "'"
    return str(v)


def emit(name, cols, types, rows, order_by):
    """Write SELECT-over-VALUES SQL matching the Spark output schema."""
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(cols, types))
    values = ",\n".join("(" + ",".join(sql_lit(v) for v in r) + ")" for r in rows)
    sql = (f"SELECT {casts}\n"
           f"FROM (VALUES\n{values}\n) AS t({', '.join(cols)})\n"
           f"ORDER BY {order_by}")
    emit_sql(name, sql, len(rows))


def values_block(rows):
    return ",\n".join("(" + ",".join(str(v) for v in r) + ")" for r in rows)


def ann_oracle_sql(sel_rows):
    """Pair set pinned by VALUES (independently derived above); the sim
    column is recomputed by DuckDB itself from the embeddings table, so the
    emitted similarity values are engine-checked, not copied."""
    return (
        'WITH sel(query_id, "rank", neighbor_id) AS (VALUES\n'
        f"{values_block(sel_rows)}\n),\n"
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)\n"
        'SELECT CAST(s.query_id AS BIGINT) AS query_id, CAST(s."rank" AS BIGINT) AS "rank",\n'
        "       CAST(s.neighbor_id AS BIGINT) AS neighbor_id,\n"
        "       list_cosine_similarity(q.v, n.v) AS sim\n"
        "FROM sel s JOIN e q ON q.vec_id = s.query_id JOIN e n ON n.vec_id = s.neighbor_id\n"
        'ORDER BY query_id, "rank"')


def load_fixture(name, cols, fix_dir):
    """Rows of planted fixture `name` (a SparkEntry.fixtures table that
    graft.Verify wrote under fix_dir/name), the given columns, ordered by
    the first one. A missing table or column is a hard error: there is no
    Python copy of the recipe to fall back to."""
    path = os.path.join(fix_dir, name)
    con = duckdb.connect()
    try:
        have = {r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{path}/*.parquet'").fetchall()}
    except duckdb.Error:
        sys.exit(f"fixture {name!r} missing from {fix_dir} (write it with "
                 f"graft.Verify <sfDir> <outDir> {fix_dir})")
    missing = [c for c in cols if c not in have]
    if missing:
        sys.exit(f"fixture {name!r} in {fix_dir} lacks column(s) "
                 f"{', '.join(missing)}")
    return con.execute(
        f"SELECT {', '.join(cols)} FROM '{path}/*.parquet' "
        f"ORDER BY {cols[0]}").fetchall()


def check_same_testdata(sf_dir, fix_dir):
    """Exit nonzero unless fix_dir was written from sf_dir's testdata.
    Verify writes the whole directory in one run from one documents table.
    Each doc_id-keyed table must draw only on sf_dir's doc_ids and carry
    their lang/source/n_chars unchanged (every column it shares with
    documents except the text the recipes rewrite), and together the
    tables must cover every doc_id. sf0.001 and sf0.01 hold the same 500
    doc_ids with different rows, so the id sets alone cannot tell them
    apart. Without this, the gates that loop over fixture rows alone would
    emit oracles at the fixture's scale."""
    if not os.path.isdir(fix_dir):
        sys.exit(f"fixture directory {fix_dir} missing (write it with "
                 f"graft.Verify {sf_dir} <outDir> {fix_dir})")
    con = duckdb.connect()
    doc_path = f"{sf_dir}/documents.parquet"
    doc_cols = {r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM '{doc_path}'").fetchall()}
    docs = {r[0] for r in con.execute(
        f"SELECT doc_id FROM '{doc_path}'").fetchall()}
    seen = set()
    for name in sorted(os.listdir(fix_dir)):
        path = os.path.join(fix_dir, name)
        try:
            cols = {r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM '{path}/*.parquet'").fetchall()}
        except duckdb.Error:
            continue  # not a table; load_fixture names it if a gate reads it
        if "doc_id" not in cols:
            continue
        ids = {r[0] for r in con.execute(
            f"SELECT doc_id FROM '{path}/*.parquet'").fetchall()}
        kept = sorted((cols & doc_cols) - {"doc_id", "text"})
        differ = con.execute(
            f"SELECT count(*) FROM '{path}/*.parquet' f "
            f"JOIN '{doc_path}' d USING (doc_id) WHERE "
            + " OR ".join(f"f.{c} IS DISTINCT FROM d.{c}" for c in kept)
        ).fetchone()[0] if kept else 0
        if not ids <= docs or differ:
            sys.exit(f"fixture {name!r} in {fix_dir} does not match "
                     f"{doc_path} ({len(ids - docs)} unknown doc_id(s), "
                     f"{differ} row(s) with other {'/'.join(kept)}): "
                     f"{fix_dir} was written from other testdata")
        seen |= ids
    if seen != docs:
        sys.exit(f"fixtures in {fix_dir} cover {len(seen)} of the "
                 f"{len(docs)} doc_ids of {doc_path}: {fix_dir} was "
                 f"written from other testdata")


def crosscheck(name, rows, cols, spark_dir, order_by):
    """Compare generated rows against the Spark Verify parquet, with an
    explicit ORDER BY on the query's sort keys — glob order plus intra-file
    order happens to preserve a single-part write's ORDER BY, but a
    multi-part write would zip rows positionally out of order and fail the
    crosscheck spuriously."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {', '.join(cols)} FROM '{spark_dir}/{name}/*.parquet' "
        f"ORDER BY {order_by}"
    ).fetchall()
    want = [tuple(r) for r in rows]
    if len(got) != len(want):
        print(f"CROSSCHECK FAIL {name}: {len(got)} spark rows vs {len(want)} oracle rows")
        return False
    bad = [(g, w) for g, w in zip(got, want) if tuple(g) != w]
    if bad:
        g, w = bad[0]
        print(f"CROSSCHECK FAIL {name}: {len(bad)} rows differ; first spark={g} oracle={w}")
        return False
    print(f"crosscheck {name}: {len(want)} rows identical")
    return True


def main(sf_dir, fix_dir, spark_dir):
    check_same_testdata(sf_dir, fix_dir)
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    embs = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()

    queries = {}

    # ---- lsh_min(text, 2, 3, 2, 123) / lsh_min32 ----
    min_rows, min32_rows = [], []
    for doc_id, text in docs:
        bands = vk.minhash_bands(vk.shingles_from_text(text, 2), 3, 2, 123)
        for band, h in enumerate(bands):
            min_rows.append((doc_id, band, s64(h)))
            min32_rows.append((doc_id, band, s32(h)))
    queries["lsh_min_text"] = (("doc_id", "band", "h"),
                               ("BIGINT", "INTEGER", "BIGINT"),
                               min_rows, "doc_id, band")
    queries["lsh_min32_text"] = (("doc_id", "band", "h"),
                                 ("BIGINT", "INTEGER", "INTEGER"),
                                 min32_rows, "doc_id, band")

    # ---- lsh_min / lsh_min32 (word-bigram shingles, 3, 2, 123) ----
    # one loop, both truncation laws (lib.rs:23-27: u32 = low 32 bits)
    sh_rows, sh32_rows = [], []
    for doc_id, text in docs:
        shingles = vk.shingles_from_list(word_bigrams(text))
        for band, h in enumerate(vk.minhash_bands(shingles, 3, 2, 123)):
            sh_rows.append((doc_id, band, s64(h)))
            sh32_rows.append((doc_id, band, s32(h)))
    queries["lsh_min_shingles"] = (("doc_id", "band", "h"),
                                   ("BIGINT", "INTEGER", "BIGINT"),
                                   sh_rows, "doc_id, band")
    queries["lsh_min32_shingles"] = (("doc_id", "band", "h"),
                                     ("BIGINT", "INTEGER", "INTEGER"),
                                     sh32_rows, "doc_id, band")

    # ---- lsh_euclidean(CAST(embedding AS DOUBLE[]), 0.5, 2, 3, 123) ----
    d = len(embs[0][1])
    fam = EuclideanFamily(0.5, 2, 3, 123, d)
    euc_rows, euc32_rows = [], []
    for vec_id, emb in embs:
        x = [float(v) for v in emb]  # exact f32 -> f64 widening
        for band, h in enumerate(fam.hash(x)):
            euc_rows.append((vec_id, band, s64(h)))
            euc32_rows.append((vec_id, band, s32(h)))
    queries["lsh_euclidean_embed"] = (("vec_id", "band", "h"),
                                      ("BIGINT", "INTEGER", "BIGINT"),
                                      euc_rows, "vec_id, band")
    queries["lsh_euclidean32_embed"] = (("vec_id", "band", "h"),
                                        ("BIGINT", "INTEGER", "INTEGER"),
                                        euc32_rows, "vec_id, band")

    # ---- lsh_euclidean at d=384: six scaled copies of the fixture vector
    # (mirrors the flatten(array(transform(...)))) construction in
    # SparkEntry's lsh_euclidean_d384 — copy-major order, left-to-right
    # 384-step dot-product fold, all steps correctly-rounded IEEE doubles).
    D384_SCALES = [0.5, -1.25, 2.0, 0.75, -0.125, 1.5]
    fam384 = EuclideanFamily(0.5, 2, 3, 123, len(D384_SCALES) * d)
    d384_rows = []
    for vec_id, emb in embs:
        x = [float(v) for v in emb]
        x384 = [v * c for c in D384_SCALES for v in x]
        for band, h in enumerate(fam384.hash(x384)):
            d384_rows.append((vec_id, band, s64(h)))
    queries["lsh_euclidean_d384"] = (("vec_id", "band", "h"),
                                     ("BIGINT", "INTEGER", "BIGINT"),
                                     d384_rows, "vec_id, band")

    # ---- doc_signatures: simhash64 + min_fingerprint(8) + winnow(8,16) ----
    sig_rows = []
    for doc_id, text in docs:
        sh, mfp = s64(simhash64(text)), s64(min_fingerprint(text, 8))
        fps = winnow(text, 8, 16)
        if not fps:  # posexplode_outer keeps the row with NULL pos/fp
            sig_rows.append((doc_id, sh, mfp, "NULL", "NULL"))
        for pos, fp in enumerate(fps):
            sig_rows.append((doc_id, sh, mfp, pos, s64(fp)))
    assert not any(r[3] == "NULL" for r in sig_rows), \
        "NULL fp rows present: oracle ORDER BY needs NULLS FIRST to match Spark"
    queries["doc_signatures"] = (("doc_id", "sh", "min_fp", "fp_pos", "fp"),
                                 ("BIGINT", "BIGINT", "BIGINT", "INTEGER", "BIGINT"),
                                 sig_rows, "doc_id, fp_pos")

    # ---- simhash_dedup_pairs (bands=4 -> 16-bit chunks, maxHamming=6) ----
    shs = [(doc_id, simhash64(text)) for doc_id, text in docs]
    pair_rows = []
    for i in range(len(shs)):
        for j in range(i + 1, len(shs)):
            (ia, a), (ib, b) = shs[i], shs[j]
            if any(((a >> (16 * c)) & 0xFFFF) == ((b >> (16 * c)) & 0xFFFF)
                   for c in range(4)) and hamming(a, b) <= 6:
                pair_rows.append((ia, ib, hamming(a, b)))
    pair_rows.sort()
    queries["simhash_dedup_pairs"] = (("id_a", "id_b", "hamming"),
                                      ("BIGINT", "BIGINT", "INTEGER"),
                                      pair_rows, "id_a, id_b")

    # ---- stream_neardup_candidates: per-band co-bucket pairs (8x3, 123) ----
    # Oracle for the STREAMING bucket-state operator: with the replay
    # harness's unbounded bucket/TTL, the stream's emitted candidates
    # normalized to unordered pairs equal this pure bucket math for any
    # micro-batch arrival order. Short texts (< ngram width) are dropped on
    # both sides (empty shingle set = one catastrophic bucket).
    nd_buckets = {}
    for doc_id, text in docs:
        if len(text) < 4:
            continue
        for band, h in enumerate(
                vk.minhash_bands(vk.shingles_from_text(text, 4), 8, 3, 123)):
            nd_buckets.setdefault((band, h), []).append(doc_id)
    nd_rows = sorted((band, a, b)
                     for (band, _h), ids in nd_buckets.items()
                     for i, a in enumerate(ids) for b in ids[i + 1:])
    queries["stream_neardup_candidates"] = (("band", "id_a", "id_b"),
                                            ("INTEGER", "BIGINT", "BIGINT"),
                                            nd_rows, "band, id_a, id_b")

    # ---- candidate-set queries: set pinned by VALUES, values re-derived ----
    vecs = {vid: [float(v) for v in emb] for vid, emb in embs}
    custom = {}

    lsh_rows = lsh_topk_rows(vecs, k=5, bucket_width=4.0, band_count=8,
                             band_size=2, seed=7)
    custom["ann_topk_lsh"] = (lsh_rows, ("query_id", '"rank"', "neighbor_id", "sim"),
                              ann_oracle_sql([r[:3] for r in lsh_rows]))
    # the bucketed-table variant serves the SAME index from a persisted
    # layout — bit-identical results by construction, separate driver row so
    # the materialized path is independently gated
    custom["ann_topk_lsh_bucketed"] = (lsh_rows,
                                       ("query_id", '"rank"', "neighbor_id", "sim"),
                                       ann_oracle_sql([r[:3] for r in lsh_rows]))

    ivf_rows = ivf_topk_rows(vecs, k=5, nlist=16, nprobe=4, seed=99,
                             iters=5, sample_size=10000)
    custom["ann_topk_ivf"] = (ivf_rows, ("query_id", '"rank"', "neighbor_id", "sim"),
                              ann_oracle_sql([r[:3] for r in ivf_rows]))

    # ---- ann_topk_pq: ADC over product-quantization codes. The adist is a
    # codebook artifact DuckDB cannot recompute from the embeddings, so the
    # full rows (including the doubles) are pinned; shortest-roundtrip repr
    # parses back to the identical bits.
    pq_rows = pq_topk_rows(vecs, k=5, m=8, ksub=16, seed=55,
                           iters=4, sample_size=10000)
    pq_sql = (
        'SELECT CAST(query_id AS BIGINT) AS query_id,'
        ' CAST("rank" AS BIGINT) AS "rank",\n'
        ' CAST(neighbor_id AS BIGINT) AS neighbor_id,'
        ' CAST(adist AS DOUBLE) AS adist\n'
        "FROM (VALUES\n"
        f"{values_block([(q, r, n, repr(a)) for q, r, n, a in pq_rows])}\n"
        ') AS t(query_id, "rank", neighbor_id, adist)\n'
        'ORDER BY query_id, "rank"')
    custom["ann_topk_pq"] = (pq_rows,
                             ("query_id", '"rank"', "neighbor_id", "adist"),
                             pq_sql)

    ivfpq_rows = ivfpq_topk_rows(vecs, k=5, nlist=16, nprobe=4, m=8, ksub=16,
                                 seed=77, iters=4, sample_size=10000)
    ivfpq_sql = (
        'SELECT CAST(query_id AS BIGINT) AS query_id,'
        ' CAST("rank" AS BIGINT) AS "rank",\n'
        ' CAST(neighbor_id AS BIGINT) AS neighbor_id,'
        ' CAST(adist AS DOUBLE) AS adist\n'
        "FROM (VALUES\n"
        f"{values_block([(q, r, n, repr(a)) for q, r, n, a in ivfpq_rows])}\n"
        ') AS t(query_id, "rank", neighbor_id, adist)\n'
        'ORDER BY query_id, "rank"')
    custom["ann_topk_ivfpq"] = (ivfpq_rows,
                                ("query_id", '"rank"', "neighbor_id", "adist"),
                                ivfpq_sql)

    # ---- ann_recall: recall@10 vs exact brute force for each index family
    # at its gated config — the quality-regression gate (determinism alone
    # can't catch an nprobe/band/codebook drift that stays bit-exact to its
    # own oracle while silently cratering result quality). ivfpq uses the
    # production rerank pattern: ADC shortlist (k=50) -> exact top-10 —
    # recall = shortlist containment of the true top-10. Raw ADC ranking at
    # small code sizes is geometry-limited on this iid-random fixture
    # (~0.1-0.6 recall@10 regardless of config) and is not gated.
    ar_brute = {}
    for q, r, n, s in topk_rows({q: {n for n in vecs if n != q}
                                 for q in vecs if q < 10}, vecs, 10):
        ar_brute.setdefault(q, set()).add(n)
    ar_total = 10 * len(ar_brute)

    def ar_hits(rows_):
        got = {}
        for q, r, n, s in rows_:
            got.setdefault(q, set()).add(n)
        return sum(len(ar_brute[q] & got.get(q, set())) for q in ar_brute)

    ar_rows = sorted(
        (m_, h_, ar_total, h_ / ar_total) for m_, h_ in [
            ("ivf", ar_hits(ivf_topk_rows(vecs, 10, 16, 4, 99, 5, 10000))),
            ("ivfpq_rerank", ar_hits(ivfpq_topk_rows(vecs, 50, 16, 8, 32, 256, 77, 4, 10000))),
            ("lsh", ar_hits(lsh_topk_rows(vecs, 10, 4.0, 8, 2, 7)))])
    ar_sql = (
        "SELECT CAST(method AS VARCHAR) AS method, CAST(n_hits AS BIGINT) AS n_hits,"
        " CAST(n_total AS BIGINT) AS n_total, CAST(recall AS DOUBLE) AS recall\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(m_), h_, t_, repr(r_)) for m_, h_, t_, r_ in ar_rows])}\n"
        ") AS t(method, n_hits, n_total, recall)\nORDER BY method")
    custom["ann_recall"] = (ar_rows, ("method", "n_hits", "n_total", "recall"), ar_sql)

    # ---- cosine_lsh_pairs: random-hyperplane (sign) LSH blocking + exact
    # cosine verification (mirrors Ann.cosineLshPairs / CosineFamily: 64
    # N(0,1) hyperplanes drawn bit-major from StdRng(41); bit = dot >= 0;
    # 8 bands of 8 bits; candidates share a chunk; verified sim > 0.3).
    cl_nbits, cl_bands, cl_seed, cl_thr = 64, 8, 41, 0.3
    cl_d = len(next(iter(vecs.values())))
    cl_rng = vk.StdRng(cl_seed)
    cl_dirs = [[vk.std_normal(cl_rng) for _ in range(cl_d)]
               for _ in range(cl_nbits)]

    def cl_sketch(x):
        bits = 0
        for b_ in range(cl_nbits):
            acc = 0.0
            row = cl_dirs[b_]
            for k_ in range(cl_d):
                acc += x[k_] * row[k_]
            if acc >= 0.0:
                bits |= (1 << b_)
        return bits

    # zero-norm vectors are excluded up front (no direction; mirrors the
    # operator's guard — under ANSI Spark the cosine division would throw)
    cl_sk = {vid: cl_sketch(v) for vid, v in vecs.items()
             if any(x != 0.0 for x in v)}
    cl_width = cl_nbits // cl_bands
    cl_mask = (1 << cl_width) - 1
    cl_buckets = {}
    for vid, s_ in cl_sk.items():
        for b_ in range(cl_bands):
            cl_buckets.setdefault((b_, (s_ >> (b_ * cl_width)) & cl_mask), []).append(vid)
    cl_cand = set()
    for ids in cl_buckets.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cl_cand.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    cl_rows = []
    for a_, b_ in sorted(cl_cand):
        s_ = cosine(vecs[a_], vecs[b_])
        if s_ > cl_thr:
            cl_rows.append((a_, b_, s_))
    cl_sql = (
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,"
        " CAST(sim AS DOUBLE) AS sim\n"
        "FROM (VALUES\n"
        f"{values_block([(a_, b_, repr(s_)) for a_, b_, s_ in cl_rows])}\n"
        ") AS t(id_a, id_b, sim)\nORDER BY id_a, id_b")
    custom["cosine_lsh_pairs"] = (cl_rows, ("id_a", "id_b", "sim"), cl_sql)

    # ---- stream_embed_neardup: streaming sign-LSH blocking. Same sketch
    # chain as cosine_lsh_pairs (shared cl_* params above); the streamed
    # candidate set is pure per-band co-bucket math — one (band, a, b) row
    # per band the pair collides in, no cosine threshold (verification is a
    # downstream batch step).
    sen_rows = sorted(
        (b_, min(i_, j_), max(i_, j_))
        for (b_, _chunk), ids in cl_buckets.items()
        for x in range(len(ids)) for y in range(x + 1, len(ids))
        for i_, j_ in [(ids[x], ids[y])])
    sen_sql = (
        "SELECT CAST(band AS INTEGER) AS band, CAST(id_a AS BIGINT) AS id_a,"
        " CAST(id_b AS BIGINT) AS id_b\n"
        "FROM (VALUES\n"
        f"{values_block(sen_rows)}\n"
        ") AS t(band, id_a, id_b)\nORDER BY band, id_a, id_b")
    custom["stream_embed_neardup"] = (sen_rows, ("band", "id_a", "id_b"), sen_sql)

    customers = con.execute(
        f"SELECT c_custkey, c_name FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    pairs = blocking_pairs(customers, w=2, band_size=3, seeds=[1, 2], threshold=0.8)
    # soundness double-check inside the oracle: every pinned pair must ALSO
    # pass DuckDB's own exact 2-gram Jaccard > 0.8 recheck, or it drops out
    # and the row counts mismatch
    blocking_sql = (
        "WITH sel(key_a, key_b) AS (VALUES\n"
        f"{values_block(pairs)}\n),\n"
        "g AS (SELECT c_custkey,\n"
        "             list_distinct(list_transform(generate_series(1, length(c_name) - 1),\n"
        "                                          i -> substring(c_name, CAST(i AS INT), 2))) AS grams\n"
        "      FROM customer)\n"
        "SELECT CAST(s.key_a AS BIGINT) AS key_a, CAST(s.key_b AS BIGINT) AS key_b\n"
        "FROM sel s JOIN g a ON a.c_custkey = s.key_a JOIN g b ON b.c_custkey = s.key_b\n"
        "WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)\n"
        "      / (length(a.grams) + length(b.grams) - length(list_intersect(a.grams, b.grams))) > 0.8\n"
        "ORDER BY key_a, key_b")
    custom["lsh_blocking_join"] = (pairs, ("key_a", "key_b"), blocking_sql)

    # ---- edit_blocked_pairs: banded blocking verified by normalized
    # Levenshtein (round 13; the record-linkage verifier for short keys).
    # Candidates mirror BandedLsh.candidatePairs (4 bands x 6, one seed);
    # the DuckDB oracle then recomputes lev + edit_sim ITSELF over the
    # pinned candidate set and re-applies the >= 0.9 filter, so the
    # verification arithmetic is engine-checked, not copied (ASCII keys:
    # DuckDB's byte edits == Spark's char edits).
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[len(b)]

    ec_sets = {cid: vk.shingles_from_text(name, 2) for cid, name in customers}
    ec_buckets = {}
    for cid, _n in customers:
        for band, h in enumerate(vk.minhash_bands(ec_sets[cid], 4, 6, 5)):
            ec_buckets.setdefault((band, h), []).append(cid)
    ec_cand = set()
    for ids in ec_buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ec_cand.add((ids[i], ids[j]))
    ec_name = dict(customers)
    ec_pairs = sorted(
        p for p in ec_cand
        if 1.0 - lev(ec_name[p[0]], ec_name[p[1]])
        / max(len(ec_name[p[0]]), len(ec_name[p[1]])) >= 0.9)
    assert ec_pairs and len(ec_pairs) < len(ec_cand), \
        f"edit gate vacuous: {len(ec_pairs)} verified of {len(ec_cand)} candidates"
    ec_sql = (
        "WITH sel(key_a, key_b) AS (VALUES\n"
        f"{values_block(ec_pairs)}\n)\n"
        "SELECT CAST(s.key_a AS BIGINT) AS key_a, CAST(s.key_b AS BIGINT) AS key_b,\n"
        "       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev,\n"
        "       1.0 - levenshtein(a.c_name, b.c_name)\n"
        "             / greatest(length(a.c_name), length(b.c_name)) AS edit_sim\n"
        "FROM sel s JOIN customer a ON a.c_custkey = s.key_a\n"
        "           JOIN customer b ON b.c_custkey = s.key_b\n"
        "WHERE 1.0 - levenshtein(a.c_name, b.c_name)\n"
        "            / greatest(length(a.c_name), length(b.c_name)) >= 0.9\n"
        "ORDER BY key_a, key_b")
    custom["edit_blocked_pairs"] = (ec_pairs, ("key_a", "key_b"), ec_sql)

    # ---- edit_pairs_unicode: the NON-ASCII leg — the unicode_customers
    # fixture (names accented a -> U+00E0, e -> U+00E9), full
    # re-derivation: shingle bands over the accented keys, then the
    # CODE-POINT Levenshtein DP (Python strings are code points, the exact
    # unit levenshtein_cp implements). A byte-edit or UTF-16-unit distance
    # would disagree here, which is the point.
    eu_name = dict(load_fixture("unicode_customers", ("c_custkey", "c_name"),
                                fix_dir))
    eu_sets = {cid: vk.shingles_from_text(n, 2) for cid, n in eu_name.items()}
    eu_buckets = {}
    for cid in eu_name:
        for band, h in enumerate(vk.minhash_bands(eu_sets[cid], 4, 6, 5)):
            eu_buckets.setdefault((band, h), []).append(cid)
    eu_cand = set()
    for ids in eu_buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                eu_cand.add((ids[i], ids[j]))
    eu_rows = []
    for a, b in sorted(eu_cand):
        na, nb = eu_name[a], eu_name[b]
        d = lev(na, nb)
        sim = 1.0 - d / max(len(na), len(nb))
        if sim >= 0.9:
            eu_rows.append((a, b, d, sim))
    assert eu_rows, "unicode edit gate vacuous: no verified pairs"
    # the accent map must actually bite: every verified pair's key pays
    # multi-byte code points (byte-distance would inflate lev)
    assert all(any(ord(c) > 127 for c in eu_name[a]) for a, _b, _d, _s in eu_rows)
    queries["edit_pairs_unicode"] = (
        ("key_a", "key_b", "lev", "edit_sim"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), eu_rows, "key_a, key_b")

    # ---- deterministic hash sampling / splits (mirror graft.api.Sampling) ----
    # Sampling.hashScore = top 53 bits of xxhash64(key, seed) as an exact
    # double in [0,1) — bit-identical here, so the selected sets are an
    # independent re-derivation; attribute columns (source, n_chars, lang)
    # are joined back from the table by DuckDB itself.
    def hash_score(key, seed):
        return ((spark_xxhash64(key, seed) & M64) >> 11) / float(1 << 53)

    drows = con.execute(
        f"SELECT doc_id, lang, source, n_chars FROM '{sf_dir}/documents.parquet'"
        " ORDER BY doc_id").fetchall()

    sample_rows = [(did, src, nch) for did, _lang, src, nch in drows
                   if hash_score(did, 7) < 0.2]
    sample_sql = (
        "WITH sel(doc_id) AS (VALUES\n"
        f"{values_block([(r[0],) for r in sample_rows])}\n)\n"
        "SELECT CAST(s.doc_id AS BIGINT) AS doc_id, d.source, d.n_chars\n"
        "FROM sel s JOIN documents d ON d.doc_id = s.doc_id\n"
        "ORDER BY doc_id")
    custom["sample_hash"] = (sample_rows, ("doc_id", "source", "n_chars"), sample_sql)

    by_lang = {}
    for did, lang, _src, _nch in drows:
        by_lang.setdefault(lang, []).append(did)
    strat_rows = sorted(
        (lang, did) for lang, ids in by_lang.items()
        for did in sorted(ids, key=lambda i: (hash_score(i, 11), i))[:5])
    strat_sql = (
        "WITH sel(doc_id) AS (VALUES\n"
        f"{values_block([(did,) for _lang, did in strat_rows])}\n)\n"
        "SELECT d.lang, CAST(s.doc_id AS BIGINT) AS doc_id\n"
        "FROM sel s JOIN documents d ON d.doc_id = s.doc_id\n"
        "ORDER BY lang, doc_id")
    custom["sample_stratified"] = (strat_rows, ("lang", "doc_id"), strat_sql)

    # ---- domain_quota_sample: per-domain quota (round 15). Mirrors
    # graft.api.Domains: planted URL -> host via regexp (lowercase, strip
    # one leading www.), keep the 8 smallest (hashScore(doc_id, 13), id)
    # per host — independent re-derivation of both the URL parsing and
    # the xxhash64 selection chain.
    url_of = dict(load_fixture("planted_urls", ("doc_id", "url"), fix_dir))

    def url_host(u):
        h = re.match(r"^[a-z]+://([^/?#]+)", u).group(1).lower()
        return re.sub(r"^www\.", "", h)

    by_host = {}
    for did, _lang, _src, _nch in drows:
        by_host.setdefault(url_host(url_of[did]), []).append(did)
    dq_rows = sorted(
        (did, host) for host, ids in by_host.items()
        for did in sorted(ids, key=lambda i: (hash_score(i, 13), i))[:8])
    queries["domain_quota_sample"] = (
        ("doc_id", "host"), ("BIGINT", "VARCHAR"), dq_rows, "doc_id")

    # domain_token_quota: per-host greedy mass budget — walk each host's
    # docs in (hashScore(doc_id, 13), doc_id) order, keep while the
    # inclusive n_chars total fits 2000
    nch = {did: n for did, _l, _s, n in drows}
    dtq_rows = []
    for host, ids in by_host.items():
        run = 0
        for did in sorted(ids, key=lambda i: (hash_score(i, 13), i)):
            # no early break: a zero-mass doc AFTER the first overflow
            # still fits (the Spark filter is per-row inclusive-run)
            run += nch[did]
            if run <= 2000:
                dtq_rows.append((did, nch[did]))
    queries["domain_token_quota"] = (
        ("doc_id", "n_chars"), ("BIGINT", "BIGINT"),
        sorted(dtq_rows), "doc_id")

    # split bounds accumulate left-to-right exactly like Sampling.assignSplits'
    # scanLeft — do NOT replace with literals (0.8 + 0.1 in binary is not 0.9)
    split_fracs = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    bounds, acc = [], 0.0
    for nm, f in split_fracs:
        acc += f
        bounds.append((nm, acc))

    def split_of(did):
        sc = hash_score(did, 5)
        for nm, hi in bounds[:-1]:
            if sc < hi:
                return nm
        return bounds[-1][0]

    split_rows = [(did, split_of(did)) for did, _lang, _src, _nch in drows]
    split_sql = (
        "WITH sel(doc_id, split) AS (VALUES\n"
        + ",\n".join(f"({did}, '{sp}')" for did, sp in split_rows)
        + "\n)\nSELECT CAST(doc_id AS BIGINT) AS doc_id,"
          " CAST(split AS VARCHAR) AS split\nFROM sel\nORDER BY doc_id")
    custom["dataset_splits"] = (split_rows, ("doc_id", "split"), split_sql)

    # ---- html_extract: independent Python re-derivation of the HTML ->
    # text scan (graft.core.HtmlText states the rules; this mirrors them
    # rule for rule): comments drop, script/style drop through their
    # case-insensitive closers, tags end at the FIRST '>' with block
    # names emitting '\n', entities decode (named set + #dec/#hex with
    # the same digit/scalar limits), source \n\r\t become spaces, then
    # lines collapse-trim-drop-join.
    HTML_BLOCK = {
        "address", "article", "aside", "blockquote", "br", "caption",
        "dd", "details", "dialog", "div", "dl", "dt", "fieldset",
        "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
        "h4", "h5", "h6", "header", "hgroup", "hr", "li", "main",
        "nav", "ol", "p", "pre", "section", "summary", "table",
        "tbody", "td", "tfoot", "th", "thead", "title", "tr", "ul"}
    HTML_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"',
                  "apos": "'", "nbsp": " "}

    def html_extract_py(s):
        n = len(s)
        out = []
        i = 0
        while i < n:
            c = s[i]
            if c == "<":
                if s.startswith("<!--", i):
                    e = s.find("-->", i + 4)
                    i = n if e < 0 else e + 3
                elif i + 1 < n and s[i + 1].isascii() and \
                        (s[i + 1].isalpha() or s[i + 1] in "/!?"):
                    j = i + 1
                    closing = s[j] == "/"
                    if closing:
                        j += 1
                    k = j
                    while k < n and s[k].isascii() and s[k].isalnum():
                        k += 1
                    name = s[j:k].lower()
                    gt = s.find(">", i + 1)
                    if gt < 0:
                        out.append("<")
                        i += 1
                    elif not closing and name in ("script", "style"):
                        needle = "</" + name
                        end_tag = -1
                        for q in range(gt + 1, n - len(needle) + 1):
                            if s[q:q + len(needle)].lower() == needle:
                                end_tag = q
                                break
                        if end_tag < 0:
                            i = n
                        else:
                            gt2 = s.find(">", end_tag)
                            i = n if gt2 < 0 else gt2 + 1
                        out.append("\n")
                    else:
                        if name in HTML_BLOCK:
                            out.append("\n")
                        i = gt + 1
                else:
                    out.append("<")
                    i += 1
            elif c == "&":
                dec, ln_e = None, 0
                semi = s.find(";", i + 1, i + 32)
                if semi >= 0:
                    body = s[i + 1:semi]
                    ln_e = semi - i + 1
                    if body[:2] in ("#x", "#X"):
                        hx = body[2:]
                        if 1 <= len(hx) <= 6 and all(
                                ch in "0123456789abcdefABCDEF" for ch in hx):
                            cp = int(hx, 16)
                            if 0 < cp <= 0x10FFFF and \
                                    not 0xD800 <= cp <= 0xDFFF:
                                dec = chr(cp)
                    elif body[:1] == "#":
                        dc = body[1:]
                        if 1 <= len(dc) <= 7 and dc.isascii() and \
                                dc.isdigit():
                            cp = int(dc)
                            if 0 < cp <= 0x10FFFF and \
                                    not 0xD800 <= cp <= 0xDFFF:
                                dec = chr(cp)
                    else:
                        dec = HTML_NAMED.get(body)
                if dec is None:
                    out.append("&")
                    i += 1
                else:
                    out.append(dec)
                    i += ln_e
            elif c in "\n\r\t":
                out.append(" ")
                i += 1
            else:
                out.append(c)
                i += 1
        jtrim = "".join(chr(q) for q in range(0x21))
        res = []
        for ln_ in "".join(out).split("\n"):
            t = re.sub(" +", " ", ln_).strip(jtrim)
            if t:
                res.append(t)
        return "\n".join(res)

    hx_text = dict(docs)
    hx_ext = {did: html_extract_py(page) for did, page in load_fixture(
        "planted_html", ("doc_id", "html"), fix_dir)}
    hx_rows = []
    for did in sorted(hx_ext):
        t = hx_ext[did]
        hx_rows.append((did, len(t), t.count("\n") + 1, t[:60],
                        t[max(len(t) - 60, 0):]))
    # non-vacuity: chrome must survive extraction as its own lines, the
    # unknown entities must stay literal, the known ones must decode
    assert all(t.startswith("Doc ") for t in hx_ext.values())
    assert all("Home &raquo; Docs" in t for t in hx_ext.values())
    assert all("alpha & beta" in t and "AB size <10>" in t
               for t in hx_ext.values())
    assert all("track" not in t and "color" not in t
               for t in hx_ext.values()), "script/style leaked"
    queries["html_extract"] = (
        ("doc_id", "n_chars_html", "n_lines", "head60", "tail60"),
        ("BIGINT", "BIGINT", "BIGINT", "VARCHAR", "VARCHAR"),
        hx_rows, "doc_id")

    # ---- html_main_content: the jusText-class tier — same scan as
    # html_extract_py, but each block (line) carries two counters: its
    # counted chars (UTF-16 code units > U+0020, matching the Scala
    # contract — an astral char counts 2) and how many were emitted
    # inside an open <a> anchor; a line survives only if non-empty AND
    # total >= min_chars AND anchor*1000 <= max_link_permille*total.
    # Structured differently from the Scala scan (per-line (char, flag)
    # lists vs parallel counter arrays) per the two-implementations
    # discipline.
    def html_main_py(s, min_chars=25, max_link_permille=333):
        n = len(s)
        lines = [[]]
        depth = 0

        def emit(ch, in_a):
            if ch == "\n":
                lines.append([])
            else:
                lines[-1].append((ch, in_a))

        i = 0
        while i < n:
            c = s[i]
            if c == "<":
                if s.startswith("<!--", i):
                    e = s.find("-->", i + 4)
                    i = n if e < 0 else e + 3
                elif i + 1 < n and s[i + 1].isascii() and \
                        (s[i + 1].isalpha() or s[i + 1] in "/!?"):
                    j = i + 1
                    closing = s[j] == "/"
                    if closing:
                        j += 1
                    k = j
                    while k < n and s[k].isascii() and s[k].isalnum():
                        k += 1
                    name = s[j:k].lower()
                    gt = s.find(">", i + 1)
                    if gt < 0:
                        emit("<", depth > 0)
                        i += 1
                    elif not closing and name in ("script", "style"):
                        needle = "</" + name
                        end_tag = -1
                        for q in range(gt + 1, n - len(needle) + 1):
                            if s[q:q + len(needle)].lower() == needle:
                                end_tag = q
                                break
                        if end_tag < 0:
                            i = n
                        else:
                            gt2 = s.find(">", end_tag)
                            i = n if gt2 < 0 else gt2 + 1
                        emit("\n", False)
                    else:
                        if name == "a":
                            depth = max(0, depth - 1) if closing else depth + 1
                        if name in HTML_BLOCK:
                            emit("\n", False)
                        i = gt + 1
                else:
                    emit("<", depth > 0)
                    i += 1
            elif c == "&":
                dec, ln_e = None, 0
                semi = s.find(";", i + 1, i + 32)
                if semi >= 0:
                    body = s[i + 1:semi]
                    ln_e = semi - i + 1
                    if body[:2] in ("#x", "#X"):
                        hx = body[2:]
                        if 1 <= len(hx) <= 6 and all(
                                ch in "0123456789abcdefABCDEF" for ch in hx):
                            cp = int(hx, 16)
                            if 0 < cp <= 0x10FFFF and \
                                    not 0xD800 <= cp <= 0xDFFF:
                                dec = chr(cp)
                    elif body[:1] == "#":
                        dc = body[1:]
                        if 1 <= len(dc) <= 7 and dc.isascii() and \
                                dc.isdigit():
                            cp = int(dc)
                            if 0 < cp <= 0x10FFFF and \
                                    not 0xD800 <= cp <= 0xDFFF:
                                dec = chr(cp)
                    else:
                        dec = HTML_NAMED.get(body)
                if dec is None:
                    emit("&", depth > 0)
                    i += 1
                else:
                    for ch in dec:
                        emit(ch, depth > 0)
                    i += ln_e
            elif c in "\n\r\t":
                emit(" ", depth > 0)
                i += 1
            else:
                emit(c, depth > 0)
                i += 1
        jtrim = "".join(chr(q) for q in range(0x21))

        def units(ch):
            return 2 if ord(ch) > 0xFFFF else 1

        infos = []  # (trimmed, base_good, rescue_candidate)
        for ln_ in lines:
            raw = "".join(ch for ch, _a in ln_)
            total = sum(units(ch) for ch, _a in ln_ if ch > " ")
            anchor = sum(units(ch) for ch, a in ln_ if a and ch > " ")
            t = re.sub(" +", " ", raw).strip(jtrim)
            link_ok = anchor * 1000 <= max_link_permille * total
            infos.append((t, bool(t) and link_ok and total >= min_chars,
                          bool(t) and link_ok and total < min_chars))
        # context pass: a short link-clean line keeps iff its previous
        # or next NON-EMPTY line is good under the base rules (no
        # chaining — a rescued line never rescues another)
        nonempty = [k for k, (t, _g, _c) in enumerate(infos) if t]
        res = []
        for q, k in enumerate(nonempty):
            t, g, c = infos[k]
            rescued = c and (
                (q > 0 and infos[nonempty[q - 1]][1]) or
                (q + 1 < len(nonempty) and infos[nonempty[q + 1]][1]))
            if g or rescued:
                res.append(t)
        return "\n".join(res)

    main_page = dict(load_fixture("planted_main_html", ("doc_id", "html"),
                                  fix_dir))

    hm_rows = []
    mc_text = {}  # main-content extraction, reused by the warc_to_shards chain
    for did, page in sorted(main_page.items()):
        tm = html_main_py(page)
        mc_text[did] = tm
        ta = html_extract_py(page)
        hm_rows.append((did, len(tm), tm.count("\n") + 1,
                        ta.count("\n") + 1, tm[:60],
                        tm[max(len(tm) - 60, 0):]))
        # per-doc invariants: chrome gone from main, present in all
        assert "Home" not in tm and "related article" not in tm and \
            "Privacy" not in tm, f"chrome leaked into main content: {did}"
        assert "Home Docs About us" in ta and "Privacy | Terms" in ta
        tm_lines = tm.split("\n")
        # the context pass rescues the <h1> over the article body — but
        # exactly ONCE: the <title> twin of the same text sits next to
        # the link-dense nav (a bad neighbor) and must stay dropped
        assert tm_lines[0] == f"Doc {did}", \
            f"short heading not rescued by the context pass: {did}"
        assert tm_lines.count(f"Doc {did}") == 1, \
            f"title leaked past its bad-neighbor context: {did}"
        assert tm_lines[1].startswith(hx_text[did][:20]), \
            f"content paragraph lost: {did}"
        assert "the full guide" in tm, \
            f"inline-linked prose wrongly dropped: {did}"
    queries["html_main_content"] = (
        ("doc_id", "n_chars_main", "n_lines_main", "n_lines_all",
         "head60", "tail60"),
        ("BIGINT", "BIGINT", "BIGINT", "BIGINT", "VARCHAR", "VARCHAR"),
        hm_rows, "doc_id")

    # ---- zlib_ratio: compression-ratio repetition signal. The planted
    # spam (id % 10 == 7) carries a unique slot number between every two
    # template words — no duplicate line, no repeated 2-gram — so the
    # counters the corpus already runs see nothing, while zlib compresses
    # the repeated vocabulary past the all-integer 3x rule. Python's
    # zlib.compress and the JDK Deflater bind the same system zlib, so
    # the oracle pins EXACT compressed lengths (the expression scaladoc
    # states the determinism contract).
    import zlib as _zlib

    spam_docs = load_fixture("planted_spam", ("doc_id", "text"), fix_dir)
    spam_dids = {did for did, _t in spam_docs if did % 10 == 7}
    zr_rows = []
    for did, txt in spam_docs:
        b = txt.encode("utf-8")
        nz = len(_zlib.compress(b, 6))
        # empty text: the contracted row is (0, 8, NULL ratio, False) —
        # Spark's double division by zero is null, mirrored as None
        zr_rows.append((did, len(b), nz,
                        nz / len(b) if b else None, nz * 3 < len(b)))
        if did in spam_dids:
            words = txt.split(" ")
            grams = list(zip(words, words[1:]))
            assert len(set(grams)) == len(grams), \
                "spam fixture has a repeated 2-gram — no longer evades"
            assert "\n" not in txt
    flagged = {did for did, _b, _z, _r, sp in zr_rows if sp}
    assert flagged == spam_dids, \
        "zlib spam rule mislabels: flagged set != planted set"
    queries["zlib_ratio"] = (
        ("doc_id", "n_bytes", "n_zlib", "zlib_ratio", "template_spam"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE", "BOOLEAN"),
        zr_rows, "doc_id")

    # ---- quality_zlib_composed: the zlib rule composed into the Gopher
    # repetition tier. Mirrors repetitionStats exactly (words = \s+ split
    # of the trimmed text; dup-word = 1 - distinct/len; 2-gram top/dup
    # fractions) with the repetition_filter gate's calibrated thresholds,
    # plus the zlib verdict from zr_rows. The composition's point is
    # asserted: EVERY planted spam doc passes the n-gram filter and dies
    # only on the compression rule.
    qz_spam = {did: sp for did, _b, _z, _r, sp in zr_rows}
    qz_rows = []
    for did, txt in spam_docs:
        words = re.split(r"\s+", txt.strip()) if txt.strip() else [""]
        wc = len(words)
        dup_w = 1.0 - len(set(words)) / wc
        grams = [words[i] + " " + words[i + 1] for i in range(wc - 1)]
        if grams:
            from collections import Counter as _C
            gc = _C(grams)
            top2 = max(gc.values()) / len(grams)
            dup2 = (len(grams) - len(gc)) / len(grams)
        else:
            top2 = dup2 = 0.0
        keep_ng = (wc >= 40 and dup_w <= 0.54 and top2 <= 0.05
                   and dup2 <= 0.05)
        qz_rows.append((did, keep_ng, qz_spam[did],
                        keep_ng and not qz_spam[did]))
    assert all(kn and sp for did, kn, sp, _k in qz_rows
               if did in spam_dids), \
        "composition vacuous: spam must PASS the n-gram filter and be " \
        "caught only by the zlib rule"
    assert any(k for did, _kn, _sp, k in qz_rows if did not in spam_dids)
    queries["quality_zlib_composed"] = (
        ("doc_id", "keep_ngram", "template_spam", "keep"),
        ("BIGINT", "BOOLEAN", "BOOLEAN", "BOOLEAN"), qz_rows, "doc_id")

    # ---- html_noindex_filter: robots-meta page opt-out. Independent
    # re-derivation of HtmlText.metaRobots' stated scan: first <meta
    # (case-insensitive, followed by ws//!>) to the first '>', attributes
    # as [A-Za-z-]+ runs with quoted/unquoted values (first occurrence of
    # a name wins within the tag), first tag whose name attr folds to
    # 'robots' returns its trimmed content; drop iff the comma-split,
    # trimmed, lowercased token list contains noindex or none.
    def meta_robots_py(s):
        n = len(s)
        i = 0
        while i + 5 <= n:
            if s[i:i + 5].lower() == "<meta" and (
                    i + 5 == n or s[i + 5] in " \t\n\r/>"):
                gt = s.find(">", i + 5)
                end = n if gt < 0 else gt
                j = i + 5
                name = content = None
                while j < end:
                    c = s[j]
                    if c.isascii() and (c.isalpha() or c == "-"):
                        k = j
                        while k < end and s[k].isascii() and \
                                (s[k].isalpha() or s[k] == "-"):
                            k += 1
                        attr = s[j:k].lower()
                        m = k
                        while m < end and s[m] <= " ":
                            m += 1
                        value = ""
                        if m < end and s[m] == "=":
                            m += 1
                            while m < end and s[m] <= " ":
                                m += 1
                            if m < end and s[m] in "\"'":
                                q = s[m]
                                e = s.find(q, m + 1)
                                stop = end if (e < 0 or e > end) else e
                                value = s[m + 1:stop]
                                m = stop + 1 if stop < end else end
                            else:
                                e = m
                                while e < end and s[e] > " ":
                                    e += 1
                                value = s[m:e]
                                m = e
                        if attr == "name" and name is None:
                            name = value
                        if attr == "content" and content is None:
                            content = value
                        j = m
                    else:
                        j += 1
                if name is not None and name.strip().lower() == "robots":
                    return (content or "").strip()
                i = end + 1
            else:
                i += 1
        return None

    nr_pages = load_fixture("planted_robots_html",
                            ("doc_id", "html", "n_chars"), fix_dir)
    nr_rows = []
    for did, page, nch in nr_pages:
        r = meta_robots_py(page)
        dropped = r is not None and any(
            tok.strip().lower() in ("noindex", "none")
            for tok in r.split(","))
        if not dropped:
            nr_rows.append((did, r, nch))
    # the newline-padded token pins the [\x00-\x20] edge trim (Spark's
    # space-only builtin trim would KEEP such a page): it must be planted
    assert any("\n noindex" in page for _d, page, _n in nr_pages), \
        "robots fixture vacuous: no newline-padded noindex token"
    kept = {did for did, _r, _n in nr_rows}
    assert all(did not in kept for did, _p, _n in nr_pages
               if did % 6 in (1, 5)), "noindex/none classes must drop"
    assert all(did in kept for did, _p, _n in nr_pages
               if did % 6 in (0, 3)), \
        "decoy description meta and INDEX directive must keep"
    assert any(r == "INDEX, FOLLOW" for _d, r, _n in nr_rows), \
        "the uppercase directive must surface verbatim (trimmed)"
    queries["html_noindex_filter"] = (
        ("doc_id", "robots", "n_chars"),
        ("BIGINT", "VARCHAR", "BIGINT"), nr_rows, "doc_id")

    # ---- source_warc_extract: the crawl-tape front edge — Spark builds
    # a 2-file WARC tape from the warc_pages fixture (non-ASCII titles, so
    # Content-Length must count BYTES), parses it by strict framing, and
    # extracts text; this re-derives each record's extraction from the
    # same pages through the independent HTML scan. The framing itself
    # has no Python twin — a misframed parse surfaces as missing/extra
    # rows or garbled text, both hash mismatches.
    wx_rows = []
    for did, page in load_fixture("warc_pages", ("doc_id", "html"), fix_dir):
        t = html_extract_py(page)
        wx_rows.append((did, "https://example.org/doc/%d" % did,
                        "resource", len(t), t[:60]))
    assert all(h.startswith("Doc «") for *_x, h in wx_rows), \
        "extraction must surface the title line first"
    queries["source_warc_extract"] = (
        ("doc_id", "target_uri", "warc_type", "n_chars_ext", "head60"),
        ("BIGINT", "VARCHAR", "VARCHAR", "BIGINT", "VARCHAR"),
        wx_rows, "doc_id")

    # ---- source_warc_gzip: response records, half gzip-encoded — the
    # Spark side must parse each HTTP envelope and gunzip per record; the
    # mirror starts from the PRE-compression text (the roundtrip must be
    # exactly lossless, so the rows are the extract rows with
    # warc_type=response). A skipped gunzip mojibakes every even doc and
    # fails the hash; a wrongly-applied one throws on the identity docs.
    queries["source_warc_gzip"] = (
        ("doc_id", "target_uri", "warc_type", "n_chars_ext", "head60"),
        ("BIGINT", "VARCHAR", "VARCHAR", "BIGINT", "VARCHAR"),
        [(did, uri, "response", n, h) for did, uri, _t, n, h in wx_rows],
        "doc_id")

    # ---- source_warc_charset: charset-labeled body decode. The expected
    # decoded strings are the warc_charset_bodies rows; encode/decode is
    # lossless for the planted characters in each class (asserted below),
    # so a Spark side that ignored the charset label (mangling \u00e9 to
    # U+FFFD, \u20ac to a C1 control) fails the hash. Class 3's unknown
    # label pins the stated UTF-8 fallback on an ASCII payload.
    wc_bodies = load_fixture("warc_charset_bodies", ("doc_id", "body"),
                             fix_dir)
    wc_codec = {0: "latin-1", 1: "cp1252", 4: "cp1252", 5: "latin-1"}
    wc_rows = []
    for did, body in wc_bodies:
        codec = wc_codec.get(did % 6)
        if codec:
            assert body.encode(codec).decode(codec) == body, \
                f"charset fixture: doc {did} is not {codec}-lossless"
        wc_rows.append((did, len(body), body[max(len(body) - 30, 0):]))
    # fixture adequacy: every class must actually occur, and the two
    # prescan classes must include gzip'd members (prescan-after-inflate)
    assert all(any(d % 6 == k for d, _b in wc_bodies) for k in range(6)), \
        "charset fixture vacuous: a class is empty at this SF"
    assert any(d % 6 == 4 and d % 2 == 0 for d, _b in wc_bodies), \
        "charset fixture vacuous: no gzip'd meta-prescan page"
    assert all(any(ord(c) > 127 for c in b) for d, b in wc_bodies
               if d % 6 in wc_codec), \
        "charset fixture vacuous: a legacy-charset body is pure ASCII"
    queries["source_warc_charset"] = (
        ("doc_id", "n_chars_body", "tail30"),
        ("BIGINT", "BIGINT", "VARCHAR"), wc_rows, "doc_id")

    # ---- source_warc_chunked: Transfer-Encoding framing \u2014 the tape
    # mixes identity, bare chunked, chunked-of-gzip, chunked-of-deflate
    # and unchunked gzip/deflate controls; the wire layers are lossless
    # by construction, so the decode must reproduce the pre-encoding
    # text (warc_chunked_bodies) exactly. A skipped de-chunk leaves hex
    # size lines in the text; a wrong layer order feeds chunk framing to
    # gunzip; either fails the hash (or the loud decode).
    wk_bodies = load_fixture("warc_chunked_bodies", ("doc_id", "body"),
                             fix_dir)
    wk_rows = [(did, len(body), body[max(len(body) - 30, 0):])
               for did, body in wk_bodies]
    assert all(any(d % 6 == k for d, _b in wk_bodies) for k in range(6)), \
        "chunked fixture vacuous: a wire-nesting class is empty"
    assert all(len(b.encode("utf-8")) > len(b) for _d, b in wk_bodies), \
        "chunked fixture vacuous: no multi-byte character to split"
    queries["source_warc_chunked"] = (
        ("doc_id", "n_chars_body", "tail30"),
        ("BIGINT", "BIGINT", "VARCHAR"), wk_rows, "doc_id")

    # ---- http_status_filter: envelope-level admission — keep = status
    # 200 AND no X-Robots-Tag noindex/none token, over the
    # warc_status_records envelopes. Classes (id%5): 200 plain keep / 301
    # drop / 404 drop / 200+noindex drop / 200 + unavailable_after KEEP
    # (not a noindex token — pins the rule against over-dropping).
    hs_recs = load_fixture("warc_status_records",
                           ("doc_id", "status", "x_robots_tag", "body"),
                           fix_dir)
    hs_rows = [(did, st, len(body)) for did, st, tag, body in hs_recs
               if st == 200 and not any(
                   tok.strip().lower() in ("noindex", "none")
                   for tok in (tag or "").split(","))]
    assert all(any(d % 5 == k for d, *_r in hs_recs) for k in range(5)), \
        "status fixture vacuous: a class is empty at this SF"
    assert any(st != 200 for _d, st, _t, _b in hs_recs) and \
        any(st == 200 and t and "noindex" in t for _d, st, t, _b in hs_recs) and \
        any(st == 200 and t and "noindex" not in t
            for _d, st, t, _b in hs_recs), \
        "status fixture vacuous: a status, noindex or keep-tag class is missing"
    queries["http_status_filter"] = (
        ("doc_id", "status", "n_chars_body"),
        ("BIGINT", "INTEGER", "BIGINT"), hs_rows, "doc_id")

    # ---- curate_web: the RefinedWeb-style FRONT-END composed end to end
    # (round 15; round 18 adds the html_extract first stage) — html
    # extraction -> host blocklist -> path filter -> URL-identity dedup
    # -> per-domain token budget over the EXTRACTED length -> train
    # split. Full-chain re-derivation: each stage recomputed from the
    # previous stage's survivor set, so stage-order and threading bugs
    # surface as row mismatches.
    def normalized_url(u):
        host = url_host(u)
        m = re.match(r"^[a-z]+://[^/?#]+([^?#]*)", u)
        path = re.sub(r"/+$", "", m.group(1) if m else "")
        qm = re.search(r"\?([^#]*)", u)
        q = qm.group(1) if qm else ""
        return host + path + (("?" + q) if q else "")

    cw_blocked = ("src3.example.com", "src5.example.com")

    def cw_host_blocked(h):
        return h in cw_blocked or any(h.endswith("." + b) for b in cw_blocked)

    cw_url = dict(url_of)
    cw_s1 = [did for did, _l, _s, _n in drows
             if not cw_host_blocked(url_host(cw_url[did]))]

    # path-pattern filter stage (round 16): segment-boundary prefix rules
    # /p13 and /p27 on the lowercased, trailing-slash-stripped path —
    # mirrors Domains.filterUrlPaths (hits both "/p13" and the planted
    # trailing-slash "/p13/" variants)
    def cw_path(u):
        m = re.match(r"^[a-z]+://[^/?#]+([^?#]*)", u)
        return re.sub(r"/+$", "", (m.group(1) if m else "")).lower()

    cw_prefixes = ("/p13", "/p27")
    cw_s1 = [did for did in cw_s1
             if not any(cw_path(cw_url[did]) == p
                        or cw_path(cw_url[did]).startswith(p + "/")
                        for p in cw_prefixes)]

    # query-param rule kind (round 17): the exact pair 'q=1' anywhere in
    # the query drops (mirrors the kind='param' broadcast equi-join)
    def cw_q(u):
        qm = re.search(r"\?([^#]*)", u)
        return (qm.group(1) if qm else "").lower()

    cw_s1 = [did for did in cw_s1
             if not any(p == "q=1"
                        for p in cw_q(cw_url[did]).split("&") if p)]
    cw_bykey = {}
    for did in cw_s1:
        cw_bykey.setdefault(normalized_url(cw_url[did]), []).append(did)
    cw_s2 = {min(ids) for ids in cw_bykey.values()}
    cw_byhost = {}
    for did in sorted(cw_s2):
        cw_byhost.setdefault(url_host(cw_url[did]), []).append(did)
    cw_s3 = []
    for host, ids in cw_byhost.items():
        run = 0
        for did in sorted(ids, key=lambda i: (hash_score(i, 13), i)):
            run += len(hx_ext[did])
            if run <= 2200:
                cw_s3.append(did)
    cw_rows = sorted((did, len(hx_ext[did])) for did in cw_s3
                     if split_of(did) == "train")
    assert len(cw_rows) >= 10, f"curate_web: only {len(cw_rows)} train rows"
    queries["curate_web"] = (
        ("doc_id", "n_chars_ext"), ("BIGINT", "BIGINT"), cw_rows, "doc_id")

    # ---- robots_txt_filter: site-level REP opt-out (RFC 9309) over the
    # planted URL census — independent restatement of the RobotsTxt
    # kernel: group selection (exact agent else *), octet-level prefix
    # match with * wildcards and trailing-$ anchor over the
    # path-and-query target, longest raw pattern wins, Allow wins ties,
    # absence (no robots, no rules, no match) keeps.
    def rbt_parse(body, agent):
        groups, cur, in_run = [], None, False
        for raw in body.split("\n"):
            line = raw.split("#", 1)[0].strip()
            if not line:
                continue
            ci = line.find(":")
            if ci <= 0:
                continue
            field = line[:ci].strip().lower()
            value = line[ci + 1:].strip()
            if field == "user-agent":
                if not in_run:
                    cur = ([], [])
                    groups.append(cur)
                cur[0].append(value.lower())
                in_run = True
            elif field in ("allow", "disallow"):
                in_run = False
                if cur is not None and value:
                    cur[1].append((field == "allow", value))
            else:
                in_run = False
        sel = [g for g in groups if agent.lower() in g[0]]
        if not sel:
            sel = [g for g in groups if "*" in g[0]]
        return [r for g in sel for r in g[1]]

    def rbt_match(target, pattern):
        anchored = pattern.endswith("$")
        pat = pattern[:-1] if anchored else pattern
        rx = "".join(".*" if c == "*" else re.escape(c) for c in pat)
        return re.match(rx + ("$" if anchored else ""), target) is not None

    def rbt_disallowed(target, rules):
        best_len, best_allow = -1, False
        for allow, pat in rules:
            if rbt_match(target, pat):
                if len(pat) > best_len:
                    best_len, best_allow = len(pat), allow
                elif len(pat) == best_len and allow:
                    best_allow = True
        return best_len >= 0 and not best_allow

    rbt_rules = {h: rbt_parse(b, "*") for h, b in load_fixture(
        "robots_txt", ("host", "body"), fix_dir)}

    def rbt_target(u):
        m = re.match(r"^[a-z]+://[^/?#]+([^?#]*)", u)
        path = (m.group(1) if m else "") or "/"
        qm = re.search(r"\?([^#]*)", u)
        return path + ("?" + qm.group(1) if qm and qm.group(1) else "")

    rbt_rows, rbt_dropped = [], set()
    for did, _lang, _src, _n in drows:
        u = url_of[did]
        rules = rbt_rules.get(url_host(u))
        if rules is not None and rbt_disallowed(rbt_target(u), rules):
            rbt_dropped.add(did)
        else:
            rbt_rows.append((did, u))
    # fixture adequacy: every planted REP corner must actually fire
    assert any(d % 20 == 1 and d % 40 == 1 for d in rbt_dropped), \
        "robots fixture vacuous: /p shadow never dropped a /p1 page"
    assert any(d % 20 == 1 and d % 40 == 21 for d, _u in rbt_rows), \
        "robots fixture vacuous: the longer Allow never rescued /p21"
    assert any(d % 20 == 2 for d in rbt_dropped), \
        "robots fixture vacuous: the anchored /*2$ never fired"
    assert any(d % 20 == 2 and d % 3 == 0 and d % 7 != 0
               for d, _u in rbt_rows), \
        "robots fixture vacuous: no trailing-slash survivor of /*2$"
    assert any(d % 20 == 2 and d % 7 == 0 for d in rbt_dropped), \
        "robots fixture vacuous: no query-target anchored drop"
    assert all(d % 20 not in (3, 4) for d in rbt_dropped), \
        "robots fixture broken: agent selection or empty Disallow leaked"
    assert rbt_dropped, "robots fixture vacuous: nothing dropped"
    queries["robots_txt_filter"] = (
        ("doc_id", "url"), ("BIGINT", "VARCHAR"), rbt_rows, "doc_id")

    # ---- domain_dedup_idn: IDN/punycode host folding. DuckDB has no
    # punycode, so the independent second implementation is CPython's
    # RFC 3492 codec plus unquote/NFC — vs the Scala side's hand-derived
    # graft.core.Punycode + its own percent-decoder. Mirrors
    # Domains.normalizedUrl(idnHost=true): percent-decode the host
    # (errors -> U+FFFD), lowercase, NFC, xn---encode non-ASCII labels.
    import unicodedata as _ud
    import urllib.parse as _up

    def idn_fold_host(h):
        h = _up.unquote(h, errors="replace")
        h = _ud.normalize("NFC", h.lower())

        def fold_label(lab):
            if all(ord(c) < 128 for c in lab):
                return lab
            # mirror IdnAsciiHost's overflow guard: labels longer than
            # 255 UTF-16 code units (Java String.length) pass through
            # UN-encoded — junk far past DNS's 63-octet cap keeps its
            # own identity instead of risking a colliding mis-encode
            if sum(2 if ord(c) > 0xFFFF else 1 for c in lab) > 255:
                return lab
            return "xn--" + lab.encode("punycode").decode("ascii")

        return ".".join(fold_label(lab) for lab in h.split("."))

    idn_first = {}
    idn_rows = []
    for did, nchars, url in load_fixture("idn_urls",
                                         ("doc_id", "n_chars", "url"), fix_dir):
        host, path = re.match(r"^https://([^/]+)(/.*)$", url).groups()
        key = idn_fold_host(host) + path
        if key not in idn_first:
            idn_first[key] = did
            idn_rows.append((did, nchars))
    idn_rows.sort()
    # non-vacuity: the three-way twins must collapse (4 spellings over
    # ~30 path groups -> far fewer survivors than docs), and the folded
    # unicode host must EQUAL the xn-- spelling's fold
    assert idn_fold_host("m\u00fcnchen.example.de") == \
        idn_fold_host("M%C3%BCnchen.example.de") == \
        idn_fold_host("XN--MNCHEN-3YA.example.de") == \
        "xn--mnchen-3ya.example.de"
    assert len(idn_rows) < len(drows) / 3, \
        f"idn fixture vacuous: {len(idn_rows)} survivors of {len(drows)}"
    queries["domain_dedup_idn"] = (
        ("doc_id", "n_chars"), ("BIGINT", "BIGINT"), idn_rows, "doc_id")

    # ---- stream_domain_quota: the crawl-side FIRST-COME quota (streaming
    # twin). Sequential walk in arrival (= doc_id) order: admit while the
    # host's cumulative admitted count < 8 — valid for any micro-batch
    # chunking because the counter is cumulative and the order global.
    sq_cnt = {}
    sq_rows = []
    for did, _l, src, _n in sorted(drows):
        h = url_host(cw_url[did])
        c = sq_cnt.get(h, 0)
        adm = c < 8
        if adm:
            sq_cnt[h] = c + 1
        sq_rows.append((did, h, adm))
    queries["stream_domain_quota"] = (
        ("doc_id", "host", "admitted"), ("BIGINT", "VARCHAR", "BOOLEAN"),
        sq_rows, "doc_id")

    # ---- stream_url_dedup: first-come canonical-URL dedup (streaming
    # twin of domain_dedup). Sequential walk in arrival (= doc_id) order:
    # the first doc per normalized URL key admits — valid for any
    # chunking because the state is a per-key seen bit and the order
    # global. The planted URLs have no %-escapes and single-param
    # queries, so the canonical (pct-normalized, query-sorted) key the
    # Spark side computes equals this mirror's plain normalized_url.
    ud_seen = set()
    ud_rows = []
    for did, _l, _src, _n in sorted(drows):
        ukey = normalized_url(cw_url[did])
        adm = ukey not in ud_seen
        ud_seen.add(ukey)
        ud_rows.append((did, adm))
    queries["stream_url_dedup"] = (
        ("doc_id", "admitted"), ("BIGINT", "BOOLEAN"), ud_rows, "doc_id")

    # ---- contamination_check: shared 8-gram shingles vs a hash-sampled
    # "benchmark" (2%, seed 99 — same deterministic sample the query draws).
    # Shingle sets via vk.shingles_from_text (golden-gated on import), so
    # the intersection counts are an independent re-derivation of the
    # Scala ShingleHashes explode + broadcast join + count.
    bench_ids = {did for did, _t in docs if hash_score(did, 99) < 0.02}
    cont_sets = {did: vk.shingles_from_text(t, 8)
                 for did, t in docs if t is not None and len(t) >= 8}
    cont_rows = sorted(
        (did, bid, len(cont_sets[did] & cont_sets[bid]))
        for bid in bench_ids if bid in cont_sets
        for did in cont_sets if did != bid
        if len(cont_sets[did] & cont_sets[bid]) >= 50)
    queries["contamination_check"] = (("doc_id", "bench_id", "shared_ngrams"),
                                      ("BIGINT", "BIGINT", "BIGINT"),
                                      cont_rows, "doc_id, bench_id")

    # ---- corpus_shuffle: deterministic training order (seed 21) ----
    # position = rank in (hash_score, doc_id) order — the same pure function
    # of (key, seed) Sampling.shuffleByHash sorts by.
    shuffled = sorted((did for did, _t in docs),
                      key=lambda did: (hash_score(did, 21), did))
    queries["corpus_shuffle"] = (("pos", "doc_id"), ("BIGINT", "BIGINT"),
                                 [(pos + 1, did) for pos, did in enumerate(shuffled)],
                                 "pos")

    # ---- pack_sequences: concat-and-chunk packing in shuffled order ----
    # exclusive prefix sum of whitespace token counts over the (hash_score,
    # doc_id) order — the sequential re-derivation the distributed two-level
    # prefix sum must reproduce exactly; chunk ids by integer division
    toks = {did: len(re.split(r"\s+", t.strip())) for did, t in docs}
    pack_order = sorted((did for did, _t in docs if toks[did] > 0),
                        key=lambda did: (hash_score(did, 21), did))
    pack_rows, off, seq_len = [], 0, 256
    for did in pack_order:
        t = toks[did]
        pack_rows.append((did, t, off, off // seq_len, (off + t - 1) // seq_len))
        off += t
    pack_rows.sort()
    queries["pack_sequences"] = (
        ("id", "tokens", "token_offset", "chunk_start", "chunk_end"),
        ("BIGINT", "BIGINT", "BIGINT", "BIGINT", "BIGINT"), pack_rows, "id")

    # ---- token_count_bpe / pack_sequences_bpe: byte-level BPE under the
    # pinned merge list (the bpe_merges fixture, rank order).
    # Algorithm mirror of BpeCount.countWord: words are maximal runs of
    # non-ASCII-whitespace bytes of the UTF-8 encoding; tokens start as
    # single bytes; the lowest-rank adjacent pair merges ALL occurrences
    # left-to-right; repeat until no listed pair remains.
    bpe_rank = {(a.encode(), b.encode()): i for i, a, b in load_fixture(
        "bpe_merges", ("merge_rank", "lhs", "rhs"), fix_dir)}
    assert sorted(bpe_rank.values()) == list(range(len(bpe_rank))), \
        "bpe_merges: ranks must be 0..n-1 over distinct pairs"

    def bpe_word_toks_r(w, rank):
        """BPE merge loop for one whitespace-free word (bytes) under an
        explicit rank table — the mirror of BpeCount.mergeWord."""
        toks = [w[i:i + 1] for i in range(len(w))]
        while len(toks) > 1:
            best, bi = None, -1
            for j in range(len(toks) - 1):
                r = rank.get((toks[j], toks[j + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, j
            if bi < 0:
                break
            a, b = toks[bi], toks[bi + 1]
            out, k = [], 0
            while k < len(toks):
                if k < len(toks) - 1 and toks[k] == a and toks[k + 1] == b:
                    out.append(a + b)
                    k += 2
                else:
                    out.append(toks[k])
                    k += 1
            toks = out
        return toks

    def bpe_word_toks(w):
        return bpe_word_toks_r(w, bpe_rank)

    def bpe_tokens(text):
        """Full BPE token sequence (words in order, whitespace dropped) —
        the mirror of BpeTokens.tokenize; bpe_count is its length."""
        all_toks = []
        for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
            if w:
                all_toks.extend(bpe_word_toks(w))
        return all_toks

    def bpe_count(text):
        return len(bpe_tokens(text))

    bpe_toks = {did: bpe_count(t) for did, t in docs}
    queries["token_count_bpe"] = (
        ("doc_id", "n_tokens_bpe"), ("BIGINT", "BIGINT"),
        sorted(bpe_toks.items()), "doc_id")
    bpe_order = sorted((did for did, _t in docs if bpe_toks[did] > 0),
                       key=lambda did: (hash_score(did, 21), did))
    bpe_pack_rows, off = [], 0
    for did in bpe_order:
        t = bpe_toks[did]
        bpe_pack_rows.append((did, t, off, off // seq_len, (off + t - 1) // seq_len))
        off += t
    bpe_pack_rows.sort()
    queries["pack_sequences_bpe"] = (
        ("id", "tokens", "token_offset", "chunk_start", "chunk_end"),
        ("BIGINT", "BIGINT", "BIGINT", "BIGINT", "BIGINT"), bpe_pack_rows, "id")

    # ---- warc_to_shards: the crawl-tape -> training-shards CAPSTONE —
    # full-chain re-derivation of every stage the Spark side composes:
    # the tape wrap is planted_main_html (so extraction here is the
    # already-mirrored html_main_py output, mc_text), the curation chain
    # is curate_web's four stages but with the MAIN-content mass, then
    # BPE token counts, the (hash_score(21), id) packing order, the
    # exclusive-prefix shard rule min(7, run*8 // total), and the
    # per-shard manifest with the highest packed chunk id. Any stage
    # re-ordering, id-threading bug, or schema drift between the seams
    # lands as a row/hash mismatch on the 8 manifest rows.
    # stage -1: the SITE-level opt-out — the tape's own robots.txt
    # response (src6 disallows /p26) through the same REP mirror the
    # robots_txt_filter gate pins
    wts_robots = {"src6.example.com":
                  rbt_parse("User-agent: *\nDisallow: /p26\n", "*")}

    def wts_rep_drop(did):
        rules = wts_robots.get(url_host(cw_url[did]))
        return rules is not None and rbt_disallowed(
            rbt_target(cw_url[did]), rules)

    # the REP stage must matter: at least one REP-dropped page would
    # have survived every LATER drop stage (noindex, blocklist, path,
    # param) — otherwise the stage is vacuous in this composition
    def wts_noindex(did):
        r = meta_robots_py(main_page[did])
        return r is not None and any(
            tok.strip().lower() in ("noindex", "none")
            for tok in r.split(","))

    _rep_dropped = [did for did, _l, _s, _n in drows if wts_rep_drop(did)]
    assert _rep_dropped, "capstone REP stage vacuous: nothing dropped"
    assert any(not wts_noindex(d)
               and not cw_host_blocked(url_host(cw_url[d]))
               and not any(cw_path(cw_url[d]) == p
                           or cw_path(cw_url[d]).startswith(p + "/")
                           for p in cw_prefixes)
               and not any(p == "q=1"
                           for p in cw_q(cw_url[d]).split("&") if p)
               for d in _rep_dropped), \
        "capstone REP stage vacuous: every REP drop falls later anyway"

    # stage 0: the PAGE-level robots opt-out — re-derived through the
    # SAME mirror scan the noindex gate pins (meta_robots_py), over the
    # capstone's own page wrap
    wts_s0 = [did for did, _l, _s, _n in drows
              if not wts_rep_drop(did) and not wts_noindex(did)]
    assert all(wts_noindex(did) == (did % 9 == 4)
               for did, _l, _s, _n in drows), \
        "robots stage must drop exactly the planted %9==4 class"

    # stage -2 (envelope admission) extras: the 301 (2000001) and the
    # X-Robots-Tag noindex (2000002) drop on their envelopes and never
    # enter the chain; their 200 CONTROL twin (2000003) — same host,
    # same passing path class, same body — joins here and must flow the
    # WHOLE chain into a shard, proving the envelope stage bites and is
    # not a blanket drop of the extras' class. The shared cw_url /
    # mc_text maps gain the control's entries AFTER every other
    # consumer (curate_web, html_main_content) has read them.
    wts_extra_text = ("envelope control document body with enough words "
                      "to clear the main content floor and some more "
                      "prose to make the token count meaningful for "
                      "packing")
    cw_url[2000003] = "https://extra.example.com/ok"
    mc_text[2000003] = html_main_py(
        "<h1>Envelope</h1><p>" + wts_extra_text + "</p>")
    assert mc_text[2000003].startswith("Envelope\n"), \
        "control extra must keep its rescued heading + body"
    wts_s0.append(2000003)
    wts_s1 = [did for did in wts_s0
              if not cw_host_blocked(url_host(cw_url[did]))]
    wts_s1 = [did for did in wts_s1
              if not any(cw_path(cw_url[did]) == p
                         or cw_path(cw_url[did]).startswith(p + "/")
                         for p in cw_prefixes)]
    wts_s1 = [did for did in wts_s1
              if not any(p == "q=1"
                         for p in cw_q(cw_url[did]).split("&") if p)]
    wts_bykey = {}
    for did in wts_s1:
        wts_bykey.setdefault(normalized_url(cw_url[did]), []).append(did)
    wts_s2 = {min(ids) for ids in wts_bykey.values()}
    wts_byhost = {}
    for did in sorted(wts_s2):
        wts_byhost.setdefault(url_host(cw_url[did]), []).append(did)
    wts_curated = []
    for host, ids in wts_byhost.items():
        run = 0
        for did in sorted(ids, key=lambda i: (hash_score(i, 13), i)):
            run += len(mc_text[did])
            if run <= 2200:
                wts_curated.append(did)
    assert len(wts_curated) >= 50, \
        f"warc_to_shards fixture too thin: {len(wts_curated)} survivors"
    assert 2000003 in wts_curated, \
        "the envelope-admission CONTROL must survive the whole chain " \
        "(its 301/noindex twins dropping would otherwise be vacuous)"
    wts_tok = {did: bpe_count(mc_text[did]) for did in wts_curated}
    assert all(t > 0 for t in wts_tok.values()), \
        "zero-token survivor would diverge pack (drops) from shards (keeps)"
    wts_order = sorted(wts_curated, key=lambda i: (hash_score(i, 21), i))
    wts_total = sum(wts_tok.values())
    shard_rows = {}
    off = 0
    for did in wts_order:
        t = wts_tok[did]
        shard = min(7, (off * 8) // wts_total)
        chunk_end = (off + t - 1) // 256
        r = shard_rows.setdefault(shard, [0, 0, None, None, 0, 0])
        r[0] += 1                                   # n_docs
        r[1] += t                                   # n_tokens
        r[2] = did if r[2] is None else min(r[2], did)
        r[3] = did if r[3] is None else max(r[3], did)
        r[4] += did                                 # sum_id
        r[5] = max(r[5], chunk_end)                 # max_chunk
        off += t
    assert set(shard_rows) == set(range(8)), \
        f"empty shard in capstone fixture: {sorted(shard_rows)}"
    wts_rows = [(sh, r[0], r[1], r[2], r[3], r[4], r[5])
                for sh, r in sorted(shard_rows.items())]
    queries["warc_to_shards"] = (
        ("shard", "n_docs", "n_tokens", "min_id", "max_id", "sum_id",
         "max_chunk"),
        ("INTEGER", "BIGINT", "BIGINT", "BIGINT", "BIGINT", "BIGINT",
         "BIGINT"),
        wts_rows, "shard")

    # ---- bpe_train / token_count_bpe_trained: LEARNED byte-level BPE
    # (round 13). Mirrors graft.api.BpeTrain exactly: dict = top-vocab_cap
    # whitespace words by (count DESC, utf-8 bytes ASC); each round the
    # best adjacent pair by (count DESC, pair bytes ASC) merges in all dict
    # words, all occurrences left-to-right; stop when the best count < 2.
    def bpe_train(texts, num_merges, vocab_cap):
        wc = {}
        for t in texts:
            for w in re.split(rb"[\t\n\x0b\x0c\r ]+", t.encode("utf-8")):
                if w:
                    wc[w] = wc.get(w, 0) + 1
        top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_cap]
        words = [([w[i:i + 1] for i in range(len(w))], c) for w, c in top]
        merges = []
        for _ in range(num_merges):
            pc = {}
            for toks, c in words:
                for j in range(len(toks) - 1):
                    p = (toks[j], toks[j + 1])
                    pc[p] = pc.get(p, 0) + c
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if pc[best] < 2:
                break
            merges.append(best)
            a, b = best
            nw = []
            for toks, c in words:
                out, k = [], 0
                while k < len(toks):
                    if k < len(toks) - 1 and toks[k] == a and toks[k + 1] == b:
                        out.append(a + b)
                        k += 2
                    else:
                        out.append(toks[k])
                        k += 1
                nw.append((out, c))
            words = nw
        return merges

    bpe_trained = bpe_train((t for _did, t in docs), 48, 2048)
    queries["bpe_train"] = (
        ("merge_rank", "lhs", "rhs"), ("BIGINT", "VARCHAR", "VARCHAR"),
        [(i, a.decode("latin-1"), b.decode("latin-1"))
         for i, (a, b) in enumerate(bpe_trained)], "merge_rank")
    bpe_trained_rank = {p: i for i, p in enumerate(bpe_trained)}

    def bpe_count_trained(text):
        n = 0
        for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
            if w:
                n += len(bpe_word_toks_r(w, bpe_trained_rank))
        return n

    queries["token_count_bpe_trained"] = (
        ("doc_id", "n_tokens_bpe"), ("BIGINT", "BIGINT"),
        sorted((did, bpe_count_trained(t)) for did, t in docs), "doc_id")

    # ---- bpe_train_1k / token_count_bpe_1k: the trainer at PRODUCTION
    # merge count (round 15). The documents fixture's 31-word vocabulary
    # tops out at ~89 merges, so the 1k-merge corpus is the lineitem key
    # triple rendered as text — digit-rich words (77k distinct at sf0.01)
    # with the deep shared-substring structure a real byte-level vocab
    # trains on. Integer columns only: their string form is identical
    # across Spark/Python/DuckDB (doubles and timestamps are not). The
    # mirror stays the NAIVE full-recount loop — the independent statement
    # of the semantics the Scala incremental trainer must reproduce
    # bit-for-bit (equivalence is additionally spec-pinned on random
    # dicts in BpeTrainSpec).
    li_keys = con.execute(
        f"SELECT l_orderkey, l_partkey, l_suppkey FROM "
        f"'{sf_dir}/lineitem.parquet'").fetchall()
    li_texts = ["%d %d %d" % r for r in li_keys]
    bpe_1k = bpe_train(iter(li_texts), 1024, 8192)
    assert len(bpe_1k) >= 1000, f"bpe_train_1k: only {len(bpe_1k)} merges"
    queries["bpe_train_1k"] = (
        ("merge_rank", "lhs", "rhs"), ("BIGINT", "VARCHAR", "VARCHAR"),
        [(i, a.decode("latin-1"), b.decode("latin-1"))
         for i, (a, b) in enumerate(bpe_1k)], "merge_rank")
    bpe_1k_rank = {p: i for i, p in enumerate(bpe_1k)}

    def bpe_count_1k(text):
        n = 0
        for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
            if w:
                n += len(bpe_word_toks_r(w, bpe_1k_rank))
        return n

    hist = {}
    for (ok, _pk, _sk), t in zip(li_keys, li_texts):
        n = bpe_count_1k(t)
        rows_, keys_ = hist.get(n, (0, 0))
        hist[n] = (rows_ + 1, keys_ + ok)
    queries["token_count_bpe_1k"] = (
        ("n_tok", "rows", "key_sum"), ("BIGINT", "BIGINT", "BIGINT"),
        sorted((n, r, ksum) for n, (r, ksum) in hist.items()), "n_tok")

    # ---- pack_bins_nfd: whole-doc Next-Fit-Decreasing bin packing,
    # capacity 256 whitespace tokens, stream order (tokens desc,
    # hash_score(21) asc, id asc). The literal sequential walk — the Spark
    # side computes the same assignment via histogram arithmetic, so this
    # pins the batched schedule against the item-by-item definition.
    # (toks = the pack_sequences whitespace token counts above.)
    nfd_cap = 256
    nfd_stream = sorted(((did, toks[did]) for did, _t in docs if toks[did] > 0),
                        key=lambda e: (-min(e[1], nfd_cap + 1),
                                       hash_score(e[0], 21), e[0]))
    nfd_rows = []
    nfd_bin, nfd_rem = -1, 0
    for did, t in nfd_stream:
        if t > nfd_rem:
            nfd_bin += 1
            nfd_rem = nfd_cap
        # bin_offset = tokens already placed in this bin (stream order)
        nfd_rows.append((did, t, nfd_bin, nfd_cap - nfd_rem))
        nfd_rem = max(0, nfd_rem - t)  # oversize bin never tops off
    nfd_rows.sort()
    queries["pack_bins_nfd"] = (
        ("id", "tokens", "bin", "bin_offset"),
        ("BIGINT", "BIGINT", "BIGINT", "BIGINT"),
        nfd_rows, "id")

    # ---- dup_span_detect_bpe: exact-substring dedup spans over the BPE
    # token stream (width 8), re-derived from bpe_tokens above. Grams are
    # keyed by token-tuple CONTENT — the Spark side keys by xxhash64 of the
    # space-joined window, so a hash collision shows up as a mismatch here
    # instead of hiding. Island rule: a window whose start is <= running
    # max end + 1 merges (contiguous token coverage).
    SPAN_W = 8
    span_toks = {did: bpe_tokens(t) for did, t in docs}
    gram_docs = {}
    for did, toks in span_toks.items():
        for i in range(len(toks) - SPAN_W + 1):
            g = tuple(toks[i:i + SPAN_W])
            e = gram_docs.get(g)
            if e is None:
                gram_docs[g] = [did, did]
            else:
                if did < e[0]:
                    e[0] = did
                if did > e[1]:
                    e[1] = did
    dup_grams = {g for g, (mn, mx) in gram_docs.items() if mn != mx}
    span_rows = []
    for did in sorted(span_toks):
        toks = span_toks[did]
        spans = []
        for i in range(len(toks) - SPAN_W + 1):
            if tuple(toks[i:i + SPAN_W]) in dup_grams:
                fin = i + SPAN_W - 1
                if spans and i <= spans[-1][1] + 1:
                    if fin > spans[-1][1]:
                        spans[-1][1] = fin
                else:
                    spans.append([i, fin])
        for s0, s1 in spans:
            span_rows.append((did, s0, s1, s1 - s0 + 1))
    queries["dup_span_detect_bpe"] = (
        ("doc_id", "span_start", "span_end", "n_tokens"),
        ("BIGINT", "BIGINT", "BIGINT", "BIGINT"), span_rows,
        "doc_id, span_start")

    # ---- dup_span_cut_bpe: the byte-level detokenizing cut — the mirror
    # of BpeCutSpans.cut. Within a word the kept tokens' bytes concatenate
    # (a partially-cut word splices); words contributing no bytes vanish;
    # surviving words join by single spaces, so a clean doc rebuilds as its
    # whitespace-normalized form.
    def bpe_cut_text(text, spans):
        out_words = []
        flat = 0
        for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
            if not w:
                continue
            toks = bpe_word_toks(w)
            kept = b"".join(t for k, t in enumerate(toks)
                            if not any(s0 <= flat + k <= s1 for s0, s1 in spans))
            if kept:
                out_words.append(kept)
            flat += len(toks)
        return b" ".join(out_words).decode("utf-8")

    spans_by_doc = {}
    for did, s0, s1, _n in span_rows:
        spans_by_doc.setdefault(did, []).append((s0, s1))
    bpe_cut_rows = [(did, bpe_cut_text(t, spans_by_doc.get(did, [])))
                    for did, t in sorted(docs)]
    queries["dup_span_cut_bpe"] = (
        ("doc_id", "text"), ("BIGINT", "VARCHAR"), bpe_cut_rows, "doc_id")

    # ---- dup_span_cut_exact: the layout-preserving char-range cut
    # (WordCutSpans, round 13). Spans re-derived under asciiWords identity
    # (lower + [^a-z]+ split, width 8, cross-doc rule, gram CONTENT keyed
    # like the BPE mirror); the cut deletes each span's character range —
    # first flagged letter-run's first char through last flagged run's
    # last char, separators inside the span included — from the ORIGINAL
    # text. Token k = k-th maximal ASCII-letter run of the original, the
    # 1:1 asciiWords correspondence the Scala expression documents.
    wx_toks = {did: [x for x in re.split(r"[^a-z]+", (t or "").lower()) if x]
               for did, t in docs}
    wx_gram_docs = {}
    for did, toks in wx_toks.items():
        for i in range(len(toks) - SPAN_W + 1):
            g = tuple(toks[i:i + SPAN_W])
            e = wx_gram_docs.get(g)
            if e is None:
                wx_gram_docs[g] = [did, did]
            else:
                if did < e[0]:
                    e[0] = did
                if did > e[1]:
                    e[1] = did
    wx_dup = {g for g, (mn, mx) in wx_gram_docs.items() if mn != mx}
    wx_spans = {}
    for did, toks in wx_toks.items():
        spans = []
        for i in range(len(toks) - SPAN_W + 1):
            if tuple(toks[i:i + SPAN_W]) in wx_dup:
                fin = i + SPAN_W - 1
                if spans and i <= spans[-1][1] + 1:
                    if fin > spans[-1][1]:
                        spans[-1][1] = fin
                else:
                    spans.append([i, fin])
        if spans:
            wx_spans[did] = [(s0, s1) for s0, s1 in spans]

    def word_cut_text(text, spans):
        if not spans:
            return text
        spans = sorted(spans)
        out = []
        k = 0
        si = 0
        suppress = False
        i = 0
        n = len(text)

        def is_letter(c):
            return ("a" <= c <= "z") or ("A" <= c <= "Z")

        while i < n:
            if not is_letter(text[i]):
                if not suppress:
                    out.append(text[i])
                i += 1
            else:
                j = i
                while j < n and is_letter(text[j]):
                    j += 1
                while si < len(spans) and spans[si][1] < k:
                    si += 1
                flagged = si < len(spans) and spans[si][0] <= k <= spans[si][1]
                if not flagged:
                    out.append(text[i:j])
                    suppress = False
                else:
                    suppress = k < spans[si][1]
                k += 1
                i = j
        return "".join(out)

    wx_rows = [(did, word_cut_text(t or "", wx_spans.get(did, [])))
               for did, t in sorted(docs)]
    # the gate's defining property, asserted in the mirror too: a document
    # with no flagged span round-trips bit-identical
    assert all(txt == dict(docs)[did] for did, txt in wx_rows
               if did not in wx_spans), "unflagged doc failed to round-trip"
    assert wx_spans, "dup_span_cut_exact gate is vacuous: no spans"
    queries["dup_span_cut_exact"] = (
        ("doc_id", "text"), ("BIGINT", "VARCHAR"), wx_rows, "doc_id")

    # ---- contamination_span_cut_bpe: the cross-corpus pass under BPE
    # identity over the contam_corpus / planted_bench fixtures: flags
    # corpus windows whose BPE token tuple occurs anywhere in the bench
    # set, merges islands, rebuilds bytes (bpe_cut_text).
    bench_text = dict(load_fixture("planted_bench", ("doc_id", "text"),
                                   fix_dir))
    cb_corpus = dict(load_fixture("contam_corpus", ("doc_id", "text"),
                                  fix_dir))
    assert not set(bench_text) & set(cb_corpus), \
        "contamination split must be disjoint"
    cb_bench_grams = set()
    for t in bench_text.values():
        toks = bpe_tokens(t)
        for i in range(len(toks) - SPAN_W + 1):
            cb_bench_grams.add(tuple(toks[i:i + SPAN_W]))
    cb_rows = []
    for did in sorted(cb_corpus):
        t = cb_corpus[did]
        toks = bpe_tokens(t)
        spans = []
        for i in range(len(toks) - SPAN_W + 1):
            if tuple(toks[i:i + SPAN_W]) in cb_bench_grams:
                fin = i + SPAN_W - 1
                if spans and i <= spans[-1][1] + 1:
                    if fin > spans[-1][1]:
                        spans[-1][1] = fin
                else:
                    spans.append([i, fin])
        cb_rows.append((did, bpe_cut_text(t, spans)))
    assert any(r[1] != " ".join(cb_corpus[r[0]].split()) for r in cb_rows), \
        "contamination_span_cut_bpe vacuous: nothing was cut"
    queries["contamination_span_cut_bpe"] = (
        ("doc_id", "text"), ("BIGINT", "VARCHAR"), cb_rows, "doc_id")

    # ---- curate_corpus: the composed recipe re-derived end to end ----
    # quality gate -> exact dedup (min id per text) -> near-dup cluster drop
    # (union-find minima survive; same family/params as minhash_dedup_pairs,
    # recall deterministically 1) -> decontamination vs the seed-99 bench
    # sample -> split assignment, train only
    lang_n = {did: (lang, nch) for did, lang, _src, nch in drows}
    text_by_id = dict(docs)
    q_ids = sorted(did for did, _t in docs
                   if lang_n[did][0] == "en" and lang_n[did][1] >= 100)
    seen_t, exact_ids = set(), []
    for did in q_ids:  # ascending: first occurrence = min id per content
        t = text_by_id[did]
        if t not in seen_t:
            seen_t.add(t)
            exact_ids.append(did)
    sets4 = {did: vk.shingles_from_text(text_by_id[did], 4)
             for did in exact_ids if len(text_by_id[did]) >= 4}
    nd_b = {}
    for did in exact_ids:
        if did in sets4:
            for band, h in enumerate(vk.minhash_bands(sets4[did], 8, 3, 123)):
                nd_b.setdefault((band, h), []).append(did)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent.get(x, x)
        return x

    for ids in nd_b.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = sets4[ids[i]], sets4[ids[j]]
                inter = len(a & b)
                if a and b and inter / (len(a) + len(b) - inter) > 0.5:
                    ra, rb = find(ids[i]), find(ids[j])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    deduped_ids = [did for did in exact_ids if find(did) == did]
    cont8 = {did: vk.shingles_from_text(text_by_id[did], 8)
             for did in deduped_ids if len(text_by_id[did]) >= 8}
    clean_ids = [
        did for did in deduped_ids
        if did not in cont8 or not any(
            bid != did and bid in cont_sets
            and len(cont8[did] & cont_sets[bid]) >= 50 for bid in bench_ids)]
    curate_rows = sorted((did, lang_n[did][1]) for did in clean_ids
                         if split_of(did) == "train")
    queries["curate_corpus"] = (("doc_id", "n_chars"), ("BIGINT", "BIGINT"),
                                curate_rows, "doc_id")

    # ---- sketch_distinct: HLL distinct order keys per return flag ----
    # Full re-derivation of graft.core.HyperLogLog's pinned spec: FxHash64
    # value hash (over the decimal string's code points, matching the
    # query's CAST(l_orderkey AS STRING)), idx = top p bits, rho =
    # nlz(remainder)+1, raw estimator with exact 2^-rho terms summed in
    # register-index order (every step IEEE-correctly-rounded on both
    # sides -> bit-exact double).
    P = 10
    M = 1 << P
    flag_keys = con.execute(
        f"SELECT l_returnflag, l_orderkey FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    regs, exact_keys = {}, {}
    for flag, okey in flag_keys:
        r = regs.setdefault(flag, [0] * M)
        s = exact_keys.setdefault(flag, set())
        s.add(okey)
        h = token_hash([ord(c) for c in str(okey)])
        idx = h >> (64 - P)
        w = (h << P) & M64
        rho = (64 - P + 1) if w == 0 else (64 - w.bit_length() + 1)
        if rho > r[idx]:
            r[idx] = rho

    def ln_pinned(x):
        # graft.core.HyperLogLog.lnPinned: exact power-of-two range
        # reduction, then the fixed 14-term atanh series in ascending order
        import struct
        bits = struct.unpack("<Q", struct.pack("<d", x))[0]
        e = ((bits >> 52) & 0x7FF) - 1023
        f = struct.unpack("<d", struct.pack("<Q",
            (bits & 0x000FFFFFFFFFFFFF) | 0x3FF0000000000000))[0]
        t = (f - 1.0) / (f + 1.0)
        t2 = t * t
        term = t
        s = t
        for k in range(3, 29, 2):
            term *= t2
            s += term / float(k)
        return float(e) * 0.6931471805599453 + 2.0 * s

    def hll_raw(r):
        m = len(r)
        ssum = 0.0
        for v in r:
            ssum += 1.0 / (1 << v)
        raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / ssum
        # two-regime estimate (HyperLogLog.estimate): linear counting with
        # the pinned ln below the raw range when an empty register remains
        if raw > 2.5 * m:
            return raw
        zeros = sum(1 for v in r if v == 0)
        return raw if zeros == 0 else m * ln_pinned(m / zeros)

    sketch_rows = sorted((flag, len(exact_keys[flag]), hll_raw(regs[flag]))
                         for flag in regs)
    sketch_sql = (
        "SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,"
        " CAST(exact_orders AS BIGINT) AS exact_orders,"
        " CAST(hll_estimate AS DOUBLE) AS hll_estimate\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(f), n, e) for f, n, e in sketch_rows])}\n"
        ") AS t(l_returnflag, exact_orders, hll_estimate)\nORDER BY l_returnflag")
    custom["sketch_distinct"] = (sketch_rows,
                                 ("l_returnflag", "exact_orders", "hll_estimate"),
                                 sketch_sql)

    # ---- sketch_rollup: two-level HLL merge == flat fold (associativity) ----
    # The rolled registers are the elementwise max over the per-month
    # registers, i.e. exactly the flat per-flag registers computed above —
    # so the oracle reuses them; n_partials = distinct ship months.
    months = con.execute(
        "SELECT l_returnflag, count(DISTINCT month(CAST(l_shipdate AS TIMESTAMP)))"
        f" FROM '{sf_dir}/lineitem.parquet' GROUP BY 1").fetchall()
    rollup_rows = sorted((flag, n, hll_raw(regs[flag])) for flag, n in months)
    rollup_sql = (
        "SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,"
        " CAST(n_partials AS BIGINT) AS n_partials,"
        " CAST(rolled_estimate AS DOUBLE) AS rolled_estimate\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(f), n, e) for f, n, e in rollup_rows])}\n"
        ") AS t(l_returnflag, n_partials, rolled_estimate)\nORDER BY l_returnflag")
    custom["sketch_rollup"] = (rollup_rows,
                               ("l_returnflag", "n_partials", "rolled_estimate"),
                               rollup_sql)

    # ---- sample_weighted: A-ES weighted sample over the pinned ln ----
    # score = ln_pinned(1/u)/w, u the 53-bit hash fraction nudged into
    # (0,1]; smallest k scores win (ties by key). Every step is
    # correctly-rounded IEEE arithmetic, so this re-derivation must select
    # the identical sample.
    def aes_score(did, w, seed):
        u = (((spark_xxhash64(did, seed) & M64) >> 11) + 1) / float(1 << 53)
        return ln_pinned(1.0 / u) / float(w)

    wsel = sorted(
        ((aes_score(did, nch, 31), did) for did, _l, _s, nch in drows if nch > 0)
    )[:50]
    wrows = sorted((did, dict((d, n) for d, _l, _s, n in drows)[did])
                   for _sc, did in wsel)
    wsql = (
        "WITH sel(doc_id) AS (VALUES\n"
        f"{values_block([(did,) for did, _n in wrows])}\n)\n"
        "SELECT CAST(s.doc_id AS BIGINT) AS doc_id, d.n_chars\n"
        "FROM sel s JOIN documents d ON d.doc_id = s.doc_id\n"
        "ORDER BY doc_id")
    custom["sample_weighted"] = (wrows, ("doc_id", "n_chars"), wsql)

    # ---- dsir_resample: DSIR hashed-n-gram importance resampling (round
    # 13; Xie et al. 2023). Full re-derivation: ascii unigrams+bigrams,
    # crc32 % 1024 buckets (zlib == Spark's crc32 over utf8 bytes),
    # add-one-smoothed log ratios via ln_pinned on >=1 arguments only,
    # per-doc logw as the SEQUENTIAL feature fold (unigrams then bigrams,
    # stream order), A-ES draw in log space: key = lnln(1/u) - logw,
    # smallest 100 (ties by doc_id). Both the selected set AND the logw
    # doubles are pinned (every step correctly-rounded IEEE).
    import zlib as _zlib
    DSIR_B = 1024

    def dsir_feats(text):
        toks = [x for x in re.split(r"[^a-z]+", (text or "").lower()) if x]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def dsir_counts(texts):
        c = [0] * DSIR_B
        for t in texts:
            for f in dsir_feats(t):
                c[_zlib.crc32(f.encode("utf-8")) % DSIR_B] += 1
        return c

    lang_of = {did: lang for did, lang, _s, _n in drows}
    dsir_t = dsir_counts(t for did, t in docs if lang_of[did] == "en")
    dsir_r = dsir_counts(t for _did, t in docs)
    dsir_tTot = float(sum(dsir_t)) + DSIR_B
    dsir_rTot = float(sum(dsir_r)) + DSIR_B
    dsir_ratio = [ln_pinned(float(dsir_t[b] + 1) * dsir_rTot)
                  - ln_pinned(float(dsir_r[b] + 1) * dsir_tTot)
                  for b in range(DSIR_B)]

    def dsir_logw(text):
        acc = 0.0
        for f in dsir_feats(text):
            acc += dsir_ratio[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
        return acc

    def dsir_key(did, logw):
        u = (((spark_xxhash64(did, 7) & M64) >> 11) + 1) / float(1 << 53)
        e = ln_pinned(1.0 / u)
        if e == 0.0:
            lnln = float("-inf")
        elif e >= 1.0:
            lnln = ln_pinned(e)
        else:
            lnln = -ln_pinned(1.0 / e)
        return lnln - logw

    dsir_scored = [(dsir_key(did, dsir_logw(t)), did, dsir_logw(t))
                   for did, t in docs]
    dsir_sel = sorted((k, did) for k, did, _w in dsir_scored)[:100]
    dsir_w = {did: w for _k, did, w in dsir_scored}
    dsir_rows = sorted((did, dsir_w[did]) for _k, did in dsir_sel)
    # sanity: the selection must actually tilt toward the target slice
    en_rate_corpus = sum(1 for d in lang_of.values() if d == "en") / len(lang_of)
    en_rate_sel = sum(1 for did, _w in dsir_rows if lang_of[did] == "en") / len(dsir_rows)
    assert en_rate_sel > en_rate_corpus, \
        f"dsir gate vacuous: selection en-rate {en_rate_sel} <= corpus {en_rate_corpus}"
    queries["dsir_resample"] = (
        ("doc_id", "logw"), ("BIGINT", "DOUBLE"), dsir_rows, "doc_id")

    # ---- quality_nb_score: hashed-feature multinomial Naive Bayes quality
    # classifier (round 13; the Brown et al. 2020 App. A "curated seed vs
    # rest" linear-classifier step, in its closed-form bit-deterministic
    # shape). Same feature stream + ln_pinned add-one algebra as DSIR;
    # pos seed = source in (src0, src1); prior = ln(nPos) - ln(nNeg);
    # score = prior + SEQUENTIAL fold of per-bucket log-odds.
    src_of = {did: s for did, _l, s, _n in drows}
    nb_pos = [t for did, t in docs if src_of[did] in ("src0", "src1")]
    nb_neg = [t for did, t in docs if src_of[did] not in ("src0", "src1")]
    nb_p = dsir_counts(nb_pos)
    nb_n = dsir_counts(nb_neg)
    nb_pTot = float(sum(nb_p)) + DSIR_B
    nb_nTot = float(sum(nb_n)) + DSIR_B
    nb_lo = [ln_pinned(float(nb_p[b] + 1) * nb_nTot)
             - ln_pinned(float(nb_n[b] + 1) * nb_pTot) for b in range(DSIR_B)]
    nb_prior = ln_pinned(float(len(nb_pos))) - ln_pinned(float(len(nb_neg)))

    def nb_score(text):
        acc = nb_prior
        for f in dsir_feats(text):
            acc += nb_lo[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
        return acc

    nb_rows = sorted((did, nb_score(t), nb_score(t) > 0.0) for did, t in docs)
    # sanity: the classifier must actually separate — the seed sources
    # should score above the rest on average
    nb_avg_pos = sum(r[1] for r in nb_rows if src_of[r[0]] in ("src0", "src1")) / max(1, len(nb_pos))
    nb_avg_neg = sum(r[1] for r in nb_rows if src_of[r[0]] not in ("src0", "src1")) / max(1, len(nb_neg))
    assert nb_avg_pos > nb_avg_neg, \
        f"nb gate vacuous: pos avg {nb_avg_pos} <= neg avg {nb_avg_neg}"
    queries["quality_nb_score"] = (
        ("doc_id", "nb_score", "nb_keep"), ("BIGINT", "DOUBLE", "BOOLEAN"),
        nb_rows, "doc_id")

    # ---- mix_sources: per-source Bernoulli rates over one hash score ----
    MIX_RATES = {"src0": 0.9, "src1": 0.9, "src2": 0.5}
    mix_rows = sorted((did, src) for did, _l, src, _n in drows
                      if hash_score(did, 17) < MIX_RATES.get(src, 0.2))
    mix_sql = (
        "WITH sel(doc_id) AS (VALUES\n"
        f"{values_block([(did,) for did, _s in mix_rows])}\n)\n"
        "SELECT CAST(s.doc_id AS BIGINT) AS doc_id, d.source\n"
        "FROM sel s JOIN documents d ON d.doc_id = s.doc_id\n"
        "ORDER BY doc_id")
    custom["mix_sources"] = (mix_rows, ("doc_id", "source"), mix_sql)

    # ---- mix_temperature: p^alpha reweighted rates (mirror of
    # Sampling.mixByTemperature: exact counts, lexicographic source fold,
    # math.pow/divide in the same order, then the same hash filter) ----
    import math
    T_ALPHA, T_TARGET, T_SEED = 0.5, 300, 29
    tcnt = {}
    for _did, _l, src, _n in drows:
        tcnt[src] = tcnt.get(src, 0) + 1
    tpow = [(s, tcnt[s], math.pow(float(tcnt[s]), T_ALPHA)) for s in sorted(tcnt)]
    tz = 0.0
    for _s, _c, w in tpow:
        tz += w
    trates = {s: min(1.0, float(T_TARGET) * (w / tz) / float(c)) for s, c, w in tpow}
    mt_rows = sorted((did, src) for did, _l, src, _n in drows
                     if hash_score(did, T_SEED) < trates[src])
    mt_sql = (
        "WITH sel(doc_id) AS (VALUES\n"
        f"{values_block([(did,) for did, _s in mt_rows])}\n)\n"
        "SELECT CAST(s.doc_id AS BIGINT) AS doc_id, d.source\n"
        "FROM sel s JOIN documents d ON d.doc_id = s.doc_id\n"
        "ORDER BY doc_id")
    custom["mix_temperature"] = (mt_rows, ("doc_id", "source"), mt_sql)

    # ---- hist_quantiles: HDR log-linear histogram quantiles ----
    # Mirrors graft.core.Sketches.histBucketOf/histBucketLow (bit-exact
    # integer bucketing) and the nearest-rank rule rank = ceil(q*n).
    HB = 5

    def hist_bucket(v, b):
        if v < (1 << b):
            return v
        msb = v.bit_length() - 1
        return ((msb - b + 1) << b) + ((v >> (msb - b)) & ((1 << b) - 1))

    def hist_low(i, b):
        if i < (1 << b):
            return i
        o = i >> b
        return (1 << (b + o - 1)) + ((i & ((1 << b) - 1)) << (o - 1))

    import math as _math
    lang_lens = con.execute(
        f"SELECT lang, n_chars FROM '{sf_dir}/documents.parquet'").fetchall()
    lhist = {}
    for lang, nch in lang_lens:
        lhist.setdefault(lang, []).append(hist_bucket(nch, HB))

    def hist_q(buckets, q):
        n = len(buckets)
        rank = min(n, max(1, _math.ceil(q * float(n))))
        cum = 0
        for i in sorted(set(buckets)):
            cum += buckets.count(i)
            if cum >= rank:
                return hist_low(i, HB)
        return -1

    hq_rows = sorted((lang, len(bs), hist_q(bs, 0.5), hist_q(bs, 0.9),
                      hist_q(bs, 0.99)) for lang, bs in lhist.items())
    hq_sql = (
        "SELECT CAST(lang AS VARCHAR) AS lang, CAST(n AS BIGINT) AS n,"
        " CAST(p50 AS BIGINT) AS p50, CAST(p90 AS BIGINT) AS p90,"
        " CAST(p99 AS BIGINT) AS p99\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(l), n, a, b_, c) for l, n, a, b_, c in hq_rows])}\n"
        ") AS t(lang, n, p50, p90, p99)\nORDER BY lang")
    custom["hist_quantiles"] = (hq_rows, ("lang", "n", "p50", "p90", "p99"), hq_sql)

    # ---- stream_hist_quantiles: windowed HDR quantiles (streaming twin) ----
    # Same order-invariance argument as stream_hll_users: the replayed
    # histogram equals a flat per-(hour, type) fold. Values enter as
    # centi-units int(v*100) (both engines truncate toward zero for
    # positives; the double product is correctly rounded in both), clamped
    # to >= 0 — mirrors the greatest(0L, ...) guard in
    # EventStreams.windowedValueQuantiles.
    win_vals = con.execute(
        "SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),"
        " '%Y-%m-%d %H:%M') AS w, event_type, value"
        f" FROM '{sf_dir}/events.parquet'").fetchall()
    win_hist = {}
    for w, et, v in win_vals:
        win_hist.setdefault((w, et), []).append(hist_bucket(max(0, int(v * 100)), HB))
    shq_rows = sorted((w, et, hist_q(bs, 0.5), hist_q(bs, 0.95))
                      for (w, et), bs in win_hist.items())
    shq_sql = (
        "SELECT CAST(win_start AS VARCHAR) AS win_start,"
        " CAST(event_type AS VARCHAR) AS event_type,"
        " CAST(p50_x100 AS BIGINT) AS p50_x100,"
        " CAST(p95_x100 AS BIGINT) AS p95_x100\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(w), repr(et), a, b_) for w, et, a, b_ in shq_rows])}\n"
        ") AS t(win_start, event_type, p50_x100, p95_x100)\nORDER BY win_start, event_type")
    custom["stream_hist_quantiles"] = (shq_rows,
                                       ("win_start", "event_type", "p50_x100", "p95_x100"),
                                       shq_sql)

    # ---- bloom_semijoin / cms_topk: Bloom + Count-Min sketches ----
    # Shared double-hashing schedule (graft.core.Sketches): h1 = FxHash64
    # token hash, h2 = one FxHash round folding the golden gamma into h1,
    # probe i = top log2(size) bits of h1 + i*h2.
    GAMMA = 0x9E3779B97F4A7C15

    def h2_of(h1):
        f = vk.Fx()
        f.h = h1
        return f.add(GAMMA).fin()

    def probes(value, n, log_size):
        h1 = token_hash([ord(c) for c in value])
        h2 = h2_of(h1)
        return [((h1 + i * h2) & M64) >> (64 - log_size) for i in range(n)]

    LOGM, K = 17, 5
    bloom_bits = set()
    urgent = con.execute(
        f"SELECT o_custkey FROM '{sf_dir}/orders.parquet' "
        "WHERE o_orderpriority = '1-URGENT'").fetchall()
    members = {r[0] for r in urgent}
    for (ck,) in urgent:
        bloom_bits.update(probes(str(ck), K, LOGM))
    custkeys = [r[0] for r in con.execute(
        f"SELECT c_custkey FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()]
    bloom_rows = [(ck,
                   all(b in bloom_bits for b in probes(str(ck), K, LOGM)),
                   ck in members)
                  for ck in custkeys]
    bloom_sql = (
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey,"
        " CAST(might_contain AS BOOLEAN) AS might_contain,"
        " CAST(is_member AS BOOLEAN) AS is_member\n"
        "FROM (VALUES\n"
        f"{values_block(bloom_rows)}\n"
        ") AS t(c_custkey, might_contain, is_member)\nORDER BY c_custkey")
    custom["bloom_semijoin"] = (bloom_rows,
                                ("c_custkey", "might_contain", "is_member"),
                                bloom_sql)

    D, LOGW = 4, 12
    counters = [[0] * (1 << LOGW) for _ in range(D)]
    tok_counts = {}
    for _doc_id, text in docs:
        for tok in re.split("[^a-z]+", text.lower()):
            if not tok:
                continue
            tok_counts[tok] = tok_counts.get(tok, 0) + 1
            for i, idx in enumerate(probes(tok, D, LOGW)):
                counters[i][idx] += 1
    top20 = sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    cms_rows = [(repr(tok), cnt,
                 min(counters[i][idx]
                     for i, idx in enumerate(probes(tok, D, LOGW))))
                for tok, cnt in top20]
    cms_sql = (
        "SELECT CAST(token AS VARCHAR) AS token,"
        " CAST(exact_cnt AS BIGINT) AS exact_cnt,"
        " CAST(cms_cnt AS BIGINT) AS cms_cnt\n"
        "FROM (VALUES\n"
        f"{values_block(cms_rows)}\n"
        ") AS t(token, exact_cnt, cms_cnt)\nORDER BY exact_cnt DESC, token")
    custom["cms_topk"] = ([(t[1:-1], c, e) for (t, c, e) in cms_rows],
                          ("token", "exact_cnt", "cms_cnt"),
                          cms_sql)

    # ---- stream_hll_users: windowed HLL distinct users (streaming twin) ----
    # The streaming replay is bit-equal to a batch fold because the sketch
    # is order-invariant; re-derive the per-(hour, type) registers exactly
    # as for sketch_distinct (p=10, values are str(user_id)).
    PS = 10
    win_rows = con.execute(
        "SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),"
        " '%Y-%m-%d %H:%M') AS w, event_type, user_id"
        f" FROM '{sf_dir}/events.parquet'").fetchall()
    win_regs = {}
    for w, et, uid in win_rows:
        r = win_regs.setdefault((w, et), [0] * (1 << PS))
        h = token_hash([ord(c) for c in str(uid)])
        idx = h >> (64 - PS)
        rem = (h << PS) & M64
        rho = (64 - PS + 1) if rem == 0 else (64 - rem.bit_length() + 1)
        if rho > r[idx]:
            r[idx] = rho
    hll_rows = sorted((w, et, hll_raw(r)) for (w, et), r in win_regs.items())
    hll_sql = (
        "SELECT CAST(win_start AS VARCHAR) AS win_start,"
        " CAST(event_type AS VARCHAR) AS event_type,"
        " CAST(approx_users AS DOUBLE) AS approx_users\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(w), repr(et), e) for w, et, e in hll_rows])}\n"
        ") AS t(win_start, event_type, approx_users)\nORDER BY win_start, event_type")
    custom["stream_hll_users"] = (hll_rows,
                                  ("win_start", "event_type", "approx_users"),
                                  hll_sql)

    # ---- stream_cms_userfreq: windowed CMS known-key frequencies ----
    # Same order-invariance argument as the other streaming sketches; the
    # per-(hour, type) counters re-derive exactly as cms_topk's (d=4,
    # log2w=12, values are str(user_id)), probed at watched keys 0..4.
    CD, CLOGW = 4, 12
    win_users = con.execute(
        "SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),"
        " '%Y-%m-%d %H:%M') AS w, event_type, user_id"
        f" FROM '{sf_dir}/events.parquet'").fetchall()
    win_cms = {}
    for w, et, uid in win_users:
        cs = win_cms.setdefault((w, et), [[0] * (1 << CLOGW) for _ in range(CD)])
        for i, idx in enumerate(probes(str(uid), CD, CLOGW)):
            cs[i][idx] += 1
    scf_rows = sorted(
        (w, et, u, min(cs[i][idx]
                       for i, idx in enumerate(probes(str(u), CD, CLOGW))))
        for (w, et), cs in win_cms.items() for u in range(5))
    scf_sql = (
        "SELECT CAST(win_start AS VARCHAR) AS win_start,"
        " CAST(event_type AS VARCHAR) AS event_type,"
        " CAST(user_id AS BIGINT) AS user_id,"
        " CAST(est_cnt AS BIGINT) AS est_cnt\n"
        "FROM (VALUES\n"
        f"{values_block([(repr(w), repr(et), u, c) for w, et, u, c in scf_rows])}\n"
        ") AS t(win_start, event_type, user_id, est_cnt)\n"
        "ORDER BY win_start, event_type, user_id")
    custom["stream_cms_userfreq"] = (scf_rows,
                                     ("win_start", "event_type", "user_id", "est_cnt"),
                                     scf_sql)

    # ---- token_entropy: pinned-ln Shannon entropy over sorted token counts
    # (mirrors TextAnalysis.tokenEntropy: p·ln(1/p) terms keep ln_pinned in
    # its [1, inf) domain; the sorted left-to-right fold is the same
    # order-canonicalization the Spark side uses).
    from collections import Counter
    te_rows = []
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        if not toks:
            te_rows.append((doc_id, 0.0, 0))
            continue
        cs = sorted(Counter(toks).values())
        n = float(len(toks))
        acc = 0.0
        for c in cs:
            acc += (c / n) * ln_pinned(n / c)
        te_rows.append((doc_id, acc / ln_pinned(2.0), len(toks)))
    te_sql = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(token_entropy_bits AS DOUBLE) AS token_entropy_bits,"
        " CAST(n_tokens AS BIGINT) AS n_tokens\n"
        "FROM (VALUES\n"
        f"{values_block([(d, repr(h), n) for d, h, n in te_rows])}\n"
        ") AS t(doc_id, token_entropy_bits, n_tokens)\nORDER BY doc_id")
    custom["token_entropy"] = (te_rows,
                               ("doc_id", "token_entropy_bits", "n_tokens"),
                               te_sql)

    # ---- doc_logprob: CCNet-style unigram cross-entropy (mirrors
    # TextAnalysis.docLogProb: vocabCounts tokenizer = lower + [^a-z]+
    # split; per-doc terms sorted by (corpus cnt, doc count) and folded
    # left-to-right in pinned ln — ties on both keys have bit-equal terms,
    # so the within-tie order is immaterial).
    import re as _re
    def lp_tokens(text):
        return [t for t in _re.split("[^a-z]+", text.lower()) if t]
    lp_vocab = Counter()
    for _did, text in docs:
        lp_vocab.update(lp_tokens(text))
    lp_total = float(sum(lp_vocab.values()))
    lp_rows = []
    for doc_id, text in docs:
        toks = lp_tokens(text)
        if not toks:
            lp_rows.append((doc_id, 0.0, 0))
            continue
        terms = sorted((lp_vocab[t], c) for t, c in Counter(toks).items())
        acc = 0.0
        for cnt, c in terms:
            acc += float(c) * (ln_pinned(lp_total) - ln_pinned(float(cnt)))
        lp_rows.append((doc_id, acc / float(len(toks)), len(toks)))
    lp_sql = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(avg_nll AS DOUBLE) AS avg_nll,"
        " CAST(n_tokens AS BIGINT) AS n_tokens\n"
        "FROM (VALUES\n"
        f"{values_block([(d_, repr(v_), n_) for d_, v_, n_ in lp_rows])}\n"
        ") AS t(doc_id, avg_nll, n_tokens)\nORDER BY doc_id")
    custom["doc_logprob"] = (lp_rows, ("doc_id", "avg_nll", "n_tokens"), lp_sql)

    # ---- doc_logprob_bigram: add-one bigram transition NLL (mirrors
    # TextAnalysis.docLogProbBigram: V = distinct tokens corpus-wide,
    # p = (C(prev,cur)+1)/(C(prev,.)+V), per-doc terms sorted by
    # (prevTotal, bigramCnt, docCount), pinned-ln fold).
    bg_vocab = set()
    for _did, text in docs:
        bg_vocab.update(lp_tokens(text))
    bg_V = float(len(bg_vocab))
    bg_big = Counter()
    for _did, text in docs:
        ts = lp_tokens(text)
        for a, b in zip(ts, ts[1:]):
            bg_big[(a, b)] += 1
    bg_prev = Counter()
    for (a, _b), c in bg_big.items():
        bg_prev[a] += c
    bg_rows = []
    for doc_id, text in docs:
        ts = lp_tokens(text)
        if len(ts) < 2:
            bg_rows.append((doc_id, 0.0, 0))
            continue
        terms = sorted((bg_prev[a], bg_big[(a, b)], c)
                       for (a, b), c in Counter(zip(ts, ts[1:])).items())
        acc = 0.0
        for cp, cb, c in terms:
            acc += float(c) * (ln_pinned(float(cp) + bg_V) - ln_pinned(float(cb) + 1.0))
        bg_rows.append((doc_id, acc / float(len(ts) - 1), len(ts) - 1))
    bg_sql = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(avg_nll2 AS DOUBLE) AS avg_nll2,"
        " CAST(n_trans AS BIGINT) AS n_trans\n"
        "FROM (VALUES\n"
        f"{values_block([(d_, repr(v_), n_) for d_, v_, n_ in bg_rows])}\n"
        ") AS t(doc_id, avg_nll2, n_trans)\nORDER BY doc_id")
    custom["doc_logprob_bigram"] = (
        bg_rows, ("doc_id", "avg_nll2", "n_trans"), bg_sql)

    # ---- perplexity_buckets: CCNet head/middle/tail per language (round
    # 13; Wenzek et al. 2020). ntile(3) over (avg_nll2 ASC, doc_id ASC)
    # within each lang — ANSI ntile: the first (m mod 3) tiles take the
    # extra row. Re-derives both the LM score (bg_rows above) and the
    # tiling independently.
    ppl_score = {did: v for did, v, _n in bg_rows}
    ppl_by_lang = {}
    for did, lang, _s, _n in drows:
        ppl_by_lang.setdefault(lang, []).append(did)
    ppl_rows = []
    for lang, ids in ppl_by_lang.items():
        ids.sort(key=lambda d: (ppl_score[d], d))
        base, extra = divmod(len(ids), 3)
        pos = 0
        for b in range(1, 4):
            size = base + (1 if b <= extra else 0)
            for did in ids[pos:pos + size]:
                cls = "head" if b == 1 else ("tail" if b == 3 else "middle")
                ppl_rows.append((did, lang, b, cls))
            pos += size
    ppl_rows.sort()
    queries["perplexity_buckets"] = (
        ("doc_id", "lang", "ppl_bucket", "ppl_class"),
        ("BIGINT", "VARCHAR", "INT", "VARCHAR"), ppl_rows, "doc_id")

    # ---- perplexity_buckets_sketch: the map-only histogram-quantile
    # relaxation (round 14; mirrors TextAnalysis.perplexityBucketsSketch).
    # Per-lang bin = min(bins-1, floor((s-mn)/(mx-mn)*bins)) (mx==mn -> 0;
    # the ONLY float op, identical div-then-mul order as the Scala plan);
    # cut bins by integer arithmetic (smallest B with cum*nB >= t*n);
    # class = 1 + #cuts strictly below the doc's bin.
    PPS_BINS, PPS_NB = 64, 3
    pps_scores = {}
    for did, lang, _s, _n in drows:
        pps_scores.setdefault(lang, []).append((did, ppl_score[did]))
    pps_rows = []
    for lang, pairs in pps_scores.items():
        mn = min(v for _d, v in pairs)
        mx = max(v for _d, v in pairs)
        n = len(pairs)

        def pps_bin(v):
            if mx == mn:
                return 0
            return min(PPS_BINS - 1, int(math.floor((v - mn) / (mx - mn) * PPS_BINS)))
        hist = [0] * PPS_BINS
        for _d, v in pairs:
            hist[pps_bin(v)] += 1
        cuts = []
        cum, t = 0, 1
        for b in range(PPS_BINS):
            if t >= PPS_NB:
                break
            cum += hist[b]
            while t < PPS_NB and cum * PPS_NB >= t * n:
                cuts.append(b)
                t += 1
        while t < PPS_NB:
            cuts.append(PPS_BINS - 1)
            t += 1
        for did, v in pairs:
            bn = pps_bin(v)
            bk = 1 + sum(1 for c in cuts if bn > c)
            cls = "head" if bk == 1 else ("tail" if bk == PPS_NB else "middle")
            pps_rows.append((did, lang, bn, cls))
    pps_rows.sort()
    queries["perplexity_buckets_sketch"] = (
        ("doc_id", "lang", "ppl_bin", "ppl_class"),
        ("BIGINT", "VARCHAR", "INT", "VARCHAR"), pps_rows, "doc_id")

    # ---- curate_corpus_v2: the 2026-era composed recipe, re-derived end
    # to end (round 14). Chain: boilerplate lines (minDocs=80, by string)
    # -> span decon vs the planted bench (exact cut) -> cross-doc dup span
    # cut (exact) -> NB filter (seed = en slice, score > 0) -> per-lang
    # ntile(3) over a bigram LM REFIT on the survivors, tail dropped ->
    # DSIR (target = src0/src1 slice of the survivors, k=80, seed 7) ->
    # seed-5 splits, train only. Every stage refits on its own input;
    # all folds/sorts mirror the per-operator oracles bit for bit.
    V2_W = 8
    v2 = dict(load_fixture("staged_corpus", ("doc_id", "text"), fix_dir))
    v2_linedocs = {}
    for did, tt in v2.items():
        for l in set(tt.split("\n")):
            v2_linedocs[l] = v2_linedocs.get(l, 0) + 1
    v2_boiler = {l for l, c in v2_linedocs.items() if c >= 80}
    assert v2_boiler, "curate_v2 vacuous: no boilerplate line hit minDocs"
    v2_c1 = {did: "\n".join(l for l in tt.split("\n") if l not in v2_boiler)
             for did, tt in v2.items()}

    def v2_toks(t):
        return [x for x in re.split(r"[^a-z]+", (t or "").lower()) if x]

    def v2_mine(ts, member):
        spans = []
        for i in range(len(ts) - V2_W + 1):
            if tuple(ts[i:i + V2_W]) in member:
                fin = i + V2_W - 1
                if spans and i <= spans[-1][1] + 1:
                    if fin > spans[-1][1]:
                        spans[-1][1] = fin
                else:
                    spans.append([i, fin])
        return [(a, b) for a, b in spans]

    v2_bgrams = set()
    for t in bench_text.values():
        bt = v2_toks(t)
        for i in range(len(bt) - V2_W + 1):
            v2_bgrams.add(tuple(bt[i:i + V2_W]))
    v2_c2 = {did: word_cut_text(t, v2_mine(v2_toks(t), v2_bgrams))
             for did, t in v2_c1.items()}
    assert any(v2_c2[d] != v2_c1[d] for d in v2_c2), \
        "curate_v2 vacuous: decon cut nothing"
    v2_gd = {}
    v2_t3 = {did: v2_toks(t) for did, t in v2_c2.items()}
    for did, ts in v2_t3.items():
        for i in range(len(ts) - V2_W + 1):
            g = tuple(ts[i:i + V2_W])
            e = v2_gd.get(g)
            if e is None:
                v2_gd[g] = [did, did]
            else:
                if did < e[0]:
                    e[0] = did
                if did > e[1]:
                    e[1] = did
    v2_dup = {g for g, (mn, mx) in v2_gd.items() if mn != mx}
    v2_c3 = {did: word_cut_text(t, v2_mine(v2_t3[did], v2_dup))
             for did, t in v2_c2.items()}
    assert any(v2_c3[d] != v2_c2[d] for d in v2_c3), \
        "curate_v2 vacuous: dup-span cut nothing"
    # NB refit on c3 (seed = English slice), keep score > 0
    v2_pos = [t for did, t in v2_c3.items() if lang_of[did] == "en"]
    v2_neg = [t for did, t in v2_c3.items() if lang_of[did] != "en"]
    v2_p = dsir_counts(v2_pos)
    v2_n = dsir_counts(v2_neg)
    v2_pTot = float(sum(v2_p)) + DSIR_B
    v2_nTot = float(sum(v2_n)) + DSIR_B
    v2_lo = [ln_pinned(float(v2_p[b] + 1) * v2_nTot)
             - ln_pinned(float(v2_n[b] + 1) * v2_pTot) for b in range(DSIR_B)]
    v2_prior = ln_pinned(float(len(v2_pos))) - ln_pinned(float(len(v2_neg)))

    def v2_nb(text):
        acc = v2_prior
        for f in dsir_feats(text):
            acc += v2_lo[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
        return acc

    v2_c4 = {did: t for did, t in v2_c3.items() if v2_nb(t) > 0.0}
    assert 0 < len(v2_c4) < len(v2_c3), \
        f"curate_v2 NB filter degenerate: kept {len(v2_c4)}/{len(v2_c3)}"
    # bigram LM refit on c4; per-lang ntile(3); drop tail
    v2_vocab = set()
    for t in v2_c4.values():
        v2_vocab.update(lp_tokens(t))
    v2_V = float(len(v2_vocab))
    v2_big = Counter()
    for t in v2_c4.values():
        ts = lp_tokens(t)
        for a, b in zip(ts, ts[1:]):
            v2_big[(a, b)] += 1
    v2_prev = Counter()
    for (a, _b), c in v2_big.items():
        v2_prev[a] += c
    v2_score = {}
    for did, t in v2_c4.items():
        ts = lp_tokens(t)
        if len(ts) < 2:
            v2_score[did] = 0.0
            continue
        terms = sorted((v2_prev[a], v2_big[(a, b)], c)
                       for (a, b), c in Counter(zip(ts, ts[1:])).items())
        acc = 0.0
        for cp, cb, c in terms:
            acc += float(c) * (ln_pinned(float(cp) + v2_V)
                               - ln_pinned(float(cb) + 1.0))
        v2_score[did] = acc / float(len(ts) - 1)
    v2_bylang = {}
    for did in v2_c4:
        v2_bylang.setdefault(lang_of[did], []).append(did)
    v2_c5, v2_class = {}, {}
    for lang, ids in v2_bylang.items():
        ids.sort(key=lambda d: (v2_score[d], d))
        base, extra = divmod(len(ids), 3)
        pos_i = 0
        for b in range(1, 4):
            size = base + (1 if b <= extra else 0)
            for did in ids[pos_i:pos_i + size]:
                if b < 3:
                    v2_c5[did] = v2_c4[did]
                    v2_class[did] = "head" if b == 1 else "middle"
            pos_i += size
    assert len(v2_c5) < len(v2_c4), "curate_v2 vacuous: ppl tail empty"
    # DSIR refit on c5 toward the curated sources, k=80 seed 7
    V2_K = 80
    assert len(v2_c5) >= V2_K, \
        f"curate_v2: k={V2_K} exceeds survivors {len(v2_c5)}"
    v2_t = dsir_counts(t for did, t in v2_c5.items()
                       if src_of[did] in ("src0", "src1"))
    v2_r = dsir_counts(v2_c5.values())
    v2_tT = float(sum(v2_t)) + DSIR_B
    v2_rT = float(sum(v2_r)) + DSIR_B
    v2_ratio = [ln_pinned(float(v2_t[b] + 1) * v2_rT)
                - ln_pinned(float(v2_r[b] + 1) * v2_tT)
                for b in range(DSIR_B)]

    def v2_logw(text):
        acc = 0.0
        for f in dsir_feats(text):
            acc += v2_ratio[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
        return acc

    v2_scored = [(dsir_key(did, v2_logw(t)), did, v2_logw(t))
                 for did, t in v2_c5.items()]
    v2_sel = [did for _k, did, _w in sorted(v2_scored)[:V2_K]]
    v2_w = {did: w for _k, did, w in v2_scored}
    v2_src_sel = sum(1 for d in v2_sel
                     if src_of[d] in ("src0", "src1")) / float(V2_K)
    v2_src_c5 = sum(1 for d in v2_c5
                    if src_of[d] in ("src0", "src1")) / float(len(v2_c5))
    assert v2_src_sel > v2_src_c5, \
        f"curate_v2 DSIR vacuous: tilt {v2_src_sel} <= base {v2_src_c5}"
    v2_rows = sorted((did, len(v2_c5[did]), v2_class[did], v2_w[did])
                     for did in v2_sel if split_of(did) == "train")
    assert len(v2_rows) >= 10, f"curate_v2: only {len(v2_rows)} train rows"
    queries["curate_corpus_v2"] = (
        ("doc_id", "n_chars_v2", "ppl_class", "logw"),
        ("BIGINT", "BIGINT", "VARCHAR", "DOUBLE"), v2_rows, "doc_id")
    # curate_corpus_staged: the manifest-tracked resumable run of the SAME
    # chain — its contract is bit-equality with the in-session recipe, so
    # the oracle is v2's rows verbatim
    queries["curate_corpus_staged"] = (
        ("doc_id", "n_chars_v2", "ppl_class", "logw"),
        ("BIGINT", "BIGINT", "VARCHAR", "DOUBLE"), v2_rows, "doc_id")

    # ---- curate_drop_ledger: per-doc drop attribution over the staged
    # chain — the mirror already materializes every frontier, so the
    # ledger is their set differences. Stages 0-2 (boilerplate/span
    # cuts) rewrite text and keep every row by construction.
    assert set(v2) == set(v2_c1) == set(v2_c2) == set(v2_c3), \
        "text-rewriting stages must not drop rows"
    dl_sel = set(v2_sel)
    dl_rows = sorted(
        [(did, 3, "nb_quality_filter") for did in v2_c3 if did not in v2_c4]
        + [(did, 4, "ppl_tile") for did in v2_c4 if did not in v2_c5]
        + [(did, 5, "dsir_select") for did in v2_c5 if did not in dl_sel]
        + [(did, 6, "train_split") for did in v2_sel
           if split_of(did) != "train"])
    assert {i for _d, i, _s in dl_rows} == {3, 4, 5, 6}, \
        f"ledger vacuous: stages {sorted({i for _d, i, _s in dl_rows})}"
    queries["curate_drop_ledger"] = (
        ("doc_id", "stage_idx", "stage"), ("BIGINT", "BIGINT", "VARCHAR"),
        dl_rows, "doc_id")

    # ---- curate_corpus_incremental: the day-2 admission recipe, mirrored
    # as its CONTRACT states it — run the whole recipe on A UNION B raw
    # (every statistic over raw text: line document frequency, dup grams,
    # NB counts, exact/near dup identity) and slice the batch (>= 350).
    # The Scala side admits B against day-1 indexes of A (< 350); the
    # mergeable-statistics design makes this slice its bit-exact answer.
    # Input: the inc_corpus fixture (A = doc_id < 350, B = the rest)
    # against planted_bench. The two planted strings below are what the
    # adequacy asserts look for in those rows.
    INC_OFFER = "limited time offer"
    INC_P2 = " omega kappa sigma lambda upsilon phi chi psi rho nu"
    INC_W = 8
    INC_MINDOCS = 60
    inc = dict(load_fixture("inc_corpus", ("doc_id", "text"), fix_dir))

    # the cross-threshold boilerplate line is the gate's point: its
    # document frequency must sit BELOW minDocs on day-1 A alone and AT
    # OR ABOVE it once B merges in (ditto, at day 1, for the known line)
    inc_linedocs_a, inc_linedocs = {}, {}
    for did, tt in inc.items():
        for l in set(tt.split("\n")):
            inc_linedocs[l] = inc_linedocs.get(l, 0) + 1
            if did < 350:
                inc_linedocs_a[l] = inc_linedocs_a.get(l, 0) + 1
    assert inc_linedocs_a.get(INC_OFFER, 0) < INC_MINDOCS <= \
        inc_linedocs[INC_OFFER], \
        (f"inc offer-line df: A {inc_linedocs_a.get(INC_OFFER, 0)}, "
         f"union {inc_linedocs.get(INC_OFFER, 0)} — fixture vacuous")
    assert inc_linedocs_a.get("subscribe to our newsletter", 0) >= INC_MINDOCS
    inc_boiler = {l for l, c in inc_linedocs.items() if c >= INC_MINDOCS}

    # exact keep-earliest over raw text
    inc_first = {}
    for did in sorted(inc):
        inc_first.setdefault(inc[did], did)
    inc_exact_keep = {did for did in inc if inc_first[inc[did]] == did}
    assert any(did >= 350 and did not in inc_exact_keep for did in inc), \
        "inc fixture vacuous: no exact-dup drop in the batch"

    # near-dup components (4-char shingles, 8x3 bands seed 123, exact
    # Jaccard strictly > 0.5) — the rolling_dedup family
    inc_bandmap, inc_sh = {}, {}
    for did, tt in inc.items():
        if len(tt) < 4:
            continue
        sh = vk.shingles_from_text(tt, 4)
        inc_sh[did] = set(sh)
        inc_bandmap[did] = vk.minhash_bands(sh, 8, 3, 123)
    inc_parent = {}

    def inc_find(x):
        while inc_parent.get(x, x) != x:
            inc_parent[x] = inc_parent.get(inc_parent[x], inc_parent[x])
            x = inc_parent[x]
        return x

    inc_ids = sorted(inc_bandmap)
    inc_npairs = 0
    for i in range(len(inc_ids)):
        for j in range(i + 1, len(inc_ids)):
            a, b = inc_ids[i], inc_ids[j]
            if not any(inc_bandmap[a][k] == inc_bandmap[b][k]
                       for k in range(8)):
                continue
            sa, sb = inc_sh[a], inc_sh[b]
            inter = len(sa & sb)
            if inter / (len(sa) + len(sb) - inter) > 0.5:
                ra, rb = inc_find(a), inc_find(b)
                if ra != rb:
                    if ra < rb:
                        inc_parent[rb] = ra
                    else:
                        inc_parent[ra] = rb
                inc_npairs += 1
    inc_near_keep = {did for did in inc if inc_find(did) == did}
    inc_near_batch_drops = [d for d in inc
                            if d >= 350 and d not in inc_near_keep and
                            d in inc_exact_keep]
    assert inc_near_batch_drops, \
        "inc fixture vacuous: no batch doc dropped by NEAR dedup alone"

    # NB over raw A union B (seed = en slice)
    inc_pos = [t for did, t in inc.items() if lang_of[did] == "en"]
    inc_neg = [t for did, t in inc.items() if lang_of[did] != "en"]
    inc_p = dsir_counts(inc_pos)
    inc_n = dsir_counts(inc_neg)
    inc_pTot = float(sum(inc_p)) + DSIR_B
    inc_nTot = float(sum(inc_n)) + DSIR_B
    inc_lo = [ln_pinned(float(inc_p[b] + 1) * inc_nTot)
              - ln_pinned(float(inc_n[b] + 1) * inc_pTot)
              for b in range(DSIR_B)]
    inc_prior = ln_pinned(float(len(inc_pos))) - ln_pinned(float(len(inc_neg)))

    def inc_nb(text):
        acc = inc_prior
        for f in dsir_feats(text):
            acc += inc_lo[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
        return acc

    # span sources over raw text: dup grams (union corpus), bench grams,
    # boilerplate lines as token intervals; merged with the island rule
    inc_gd = {}
    inc_toks = {did: v2_toks(t) for did, t in inc.items()}
    for did, ts in inc_toks.items():
        for i in range(len(ts) - INC_W + 1):
            g = tuple(ts[i:i + INC_W])
            e = inc_gd.get(g)
            if e is None:
                inc_gd[g] = [did, did]
            else:
                if did < e[0]:
                    e[0] = did
                if did > e[1]:
                    e[1] = did
    inc_dup = {g for g, (mn, mx) in inc_gd.items() if mn != mx}
    inc_bgrams = set()
    for t in bench_text.values():
        bt = v2_toks(t)
        for i in range(len(bt) - INC_W + 1):
            inc_bgrams.add(tuple(bt[i:i + INC_W]))
    # P2 is duplicated ONLY via the batch (one day-1 holder): its grams
    # must be in the dup set (the appendToGramIndex batch-vs-index path)
    assert sum(1 for d, t in inc.items() if d < 350 and INC_P2 in t) == 1, \
        "inc fixture vacuous: P2 must have exactly one day-1 holder"
    p2t = v2_toks(INC_P2)
    assert tuple(p2t[:INC_W]) in inc_dup, \
        "inc fixture vacuous: P2 grams not duplicated via the batch"

    def inc_spans(did):
        ts = inc_toks[did]
        iv = []
        for i in range(len(ts) - INC_W + 1):
            g = tuple(ts[i:i + INC_W])
            if g in inc_dup or g in inc_bgrams:
                iv.append([i, i + INC_W - 1])
        off = 0
        for line in inc[did].split("\n"):
            n = len(v2_toks(line))
            if line in inc_boiler and n > 0:
                iv.append([off, off + n - 1])
            off += n
        iv.sort()
        out = []
        for a, b in iv:
            if out and a <= out[-1][1] + 1:
                if b > out[-1][1]:
                    out[-1][1] = b
            else:
                out.append([a, b])
        return [(a, b) for a, b in out]

    # frozen day-1 vocabulary: trained on raw A texts only
    inc_vocab = bpe_train((t for did, t in sorted(inc.items())
                           if did < 350), 48, 2048)
    inc_vocab_rank = {p: i for i, p in enumerate(inc_vocab)}

    def inc_bpe_count(text):
        n = 0
        for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
            if w:
                n += len(bpe_word_toks_r(w, inc_vocab_rank))
        return n

    inc_rows = []
    inc_nb_drops = 0
    for did in sorted(d for d in inc if d >= 350):
        if did not in inc_exact_keep or did not in inc_near_keep:
            continue
        score = inc_nb(inc[did])
        if not score > 0.0:
            inc_nb_drops += 1
            continue
        cut = word_cut_text(inc[did], inc_spans(did))
        inc_rows.append((did, len(cut), inc_bpe_count(cut), score))
    assert inc_nb_drops >= 1, "inc fixture vacuous: NB gate dropped nothing"
    assert len(inc_rows) >= 20, f"inc gate too thin: {len(inc_rows)} rows"
    # the decon cut must bite at least one admitted batch doc
    assert any(len(word_cut_text(inc[d], inc_spans(d))) < len(inc[d])
               for d, _c, _t, _s in inc_rows), \
        "inc fixture vacuous: no admitted batch doc was span-cut"
    queries["curate_corpus_incremental"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), inc_rows, "doc_id")

    # ---- inc_state_compact: the Scala side admits B1 = [350, 450),
    # COMPACTS the nine state tables, then admits B2 = [450, 500). By the
    # mergeable-statistics theorem the B2 admit over A UNION B1 state is
    # the [450, 500) slice of the SAME union rerun — so the oracle is a
    # slice of inc_rows, and any statistic the compaction loses or
    # double-counts lands as a hash mismatch. Non-vacuity: the slice must
    # carry at least one exact-dup drop against B1 (485 clones 388 — the
    # COMPACTED hash rows must still hold it), one drop against day-1 A,
    # and one span-cut admitted doc.
    cmp_rows = [r for r in inc_rows if r[0] >= 450]
    assert 8 <= len(cmp_rows) < len(inc_rows), \
        f"compact slice too thin: {len(cmp_rows)} of {len(inc_rows)}"
    cmp_admitted = {r[0] for r in cmp_rows}
    assert inc[485] == inc[388] and 485 not in cmp_admitted, \
        "compact fixture vacuous: no exact dup against the B1 generation"
    assert any(d >= 450 and d % 10 == 3 and d not in cmp_admitted
               for d in inc), \
        "compact fixture vacuous: no exact dup against day-1 A"
    assert any(len(word_cut_text(inc[d], inc_spans(d))) < len(inc[d])
               for d, _c, _t, _s in cmp_rows), \
        "compact fixture vacuous: no admitted B2 doc was span-cut"
    queries["inc_state_compact"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), cmp_rows, "doc_id")

    # ---- takedown_incremental: the Scala side builds day-1 state on A,
    # DELETES T = {150 <= id < 350, id % 10 in (3, 6)} (exactly the docs
    # B's % 10 == 3 exact clones and % 10 == 6 near clones point at),
    # then admits B. Truth = the batch slice of the full recipe over
    # (A - T) UNION B — recomputed here generically from the doc map —
    # EXCEPT the BPE vocabulary, which stays trained on the ORIGINAL A:
    # the frozen tokenizer is versioned day-1 state the takedown
    # deliberately exempts (it stores byte-pair ranks, not text, and
    # retraining would change token counts corpus-wide).
    def inc_recipe_slice(corpus_map, batch_min, vocab_rank):
        linedocs = {}
        for _did, tt in corpus_map.items():
            for l in set(tt.split("\n")):
                linedocs[l] = linedocs.get(l, 0) + 1
        boiler = {l for l, c in linedocs.items() if c >= INC_MINDOCS}
        first = {}
        for did in sorted(corpus_map):
            first.setdefault(corpus_map[did], did)
        exact_keep = {did for did in corpus_map
                      if first[corpus_map[did]] == did}
        bandmap, shs = {}, {}
        for did, tt in corpus_map.items():
            if len(tt) < 4:
                continue
            sh = vk.shingles_from_text(tt, 4)
            shs[did] = set(sh)
            bandmap[did] = vk.minhash_bands(sh, 8, 3, 123)
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        ids = sorted(bandmap)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                if not any(bandmap[a][kk] == bandmap[b][kk]
                           for kk in range(8)):
                    continue
                sa, sb = shs[a], shs[b]
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) > 0.5:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        if ra < rb:
                            parent[rb] = ra
                        else:
                            parent[ra] = rb
        near_keep = {did for did in corpus_map if find(did) == did}
        pos = [t for did, t in corpus_map.items() if lang_of[did] == "en"]
        neg = [t for did, t in corpus_map.items() if lang_of[did] != "en"]
        pc, nc = dsir_counts(pos), dsir_counts(neg)
        pTot, nTot = float(sum(pc)) + DSIR_B, float(sum(nc)) + DSIR_B
        lo = [ln_pinned(float(pc[b] + 1) * nTot)
              - ln_pinned(float(nc[b] + 1) * pTot) for b in range(DSIR_B)]
        prior = ln_pinned(float(len(pos))) - ln_pinned(float(len(neg)))

        def nb(text):
            acc = prior
            for f in dsir_feats(text):
                acc += lo[_zlib.crc32(f.encode("utf-8")) % DSIR_B]
            return acc

        gd = {}
        toks = {did: v2_toks(t) for did, t in corpus_map.items()}
        for did, ts in toks.items():
            for i in range(len(ts) - INC_W + 1):
                g = tuple(ts[i:i + INC_W])
                e = gd.get(g)
                if e is None:
                    gd[g] = [did, did]
                else:
                    if did < e[0]:
                        e[0] = did
                    if did > e[1]:
                        e[1] = did
        dup = {g for g, (mn, mx) in gd.items() if mn != mx}

        def spans(did):
            ts = toks[did]
            iv = []
            for i in range(len(ts) - INC_W + 1):
                g = tuple(ts[i:i + INC_W])
                if g in dup or g in inc_bgrams:
                    iv.append([i, i + INC_W - 1])
            off = 0
            for line in corpus_map[did].split("\n"):
                n = len(v2_toks(line))
                if line in boiler and n > 0:
                    iv.append([off, off + n - 1])
                off += n
            iv.sort()
            out = []
            for a, b in iv:
                if out and a <= out[-1][1] + 1:
                    if b > out[-1][1]:
                        out[-1][1] = b
                else:
                    out.append([a, b])
            return [(a, b) for a, b in out]

        def bpec(text):
            n = 0
            for w in re.split(rb"[\t\n\x0b\x0c\r ]+", text.encode("utf-8")):
                if w:
                    n += len(bpe_word_toks_r(w, vocab_rank))
            return n

        rows = []
        for did in sorted(d for d in corpus_map if d >= batch_min):
            if did not in exact_keep or did not in near_keep:
                continue
            score = nb(corpus_map[did])
            if not score > 0.0:
                continue
            cut = word_cut_text(corpus_map[did], spans(did))
            rows.append((did, len(cut), bpec(cut), score))
        return rows

    # the generic recomputation must reproduce the incremental oracle on
    # the FULL map — pins the refactor against the hand-inlined block
    assert inc_recipe_slice(inc, 350, inc_vocab_rank) == inc_rows, \
        "inc_recipe_slice diverges from the inline incremental oracle"
    tk_del = {d for d in inc if 150 <= d < 350 and d % 10 in (3, 6)}
    tk_map = {d: t for d, t in inc.items() if d >= 350 or d not in tk_del}
    tk_rows = inc_recipe_slice(tk_map, 350, inc_vocab_rank)
    tk_adm = {r[0] for r in tk_rows}
    inc_adm = {r[0] for r in inc_rows}
    assert any(d % 10 == 3 for d in tk_adm - inc_adm), \
        "takedown fixture vacuous: no exact-dup verdict flipped"
    assert any(d % 10 == 6 for d in tk_adm - inc_adm), \
        "takedown fixture vacuous: no near-dup verdict flipped"
    assert len(tk_rows) > len(inc_rows), \
        "takedown fixture vacuous: admitting fewer docs after deletion"
    queries["takedown_incremental"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), tk_rows, "doc_id")

    # ---- stream_incremental_admit: B arrives over 4 micro-batches, each
    # admitted SEQUENTIALLY against A plus the batches that had arrived
    # (the streaming foreachBatch twin of the day-2 seam). Slice k's
    # truth = the batch slice of the union rerun over A UNION B1..Bk —
    # inc_recipe_slice again, on the growing corpus map. Chunking mirrors
    # the replay harness: ids sorted, ceil(len/4)-sized groups.
    si_ids = sorted(d for d in inc if d >= 350)
    si_chunk = max(1, (len(si_ids) + 3) // 4)
    si_cur = {d: t for d, t in inc.items() if d < 350}
    si_rows = []
    for g in range(0, len(si_ids), si_chunk):
        ids_g = si_ids[g:g + si_chunk]
        for d in ids_g:
            si_cur[d] = inc[d]
        si_rows.extend(inc_recipe_slice(si_cur, ids_g[0], inc_vocab_rank))
    si_rows.sort()
    # sequential-vs-batch must DIFFER (the offer line's df crosses
    # minDocs only once all of B merged: early-slice docs keep it uncut)
    assert set(si_rows) != set(inc_rows), \
        "stream fixture vacuous: sequential admission equals one-shot batch"
    assert {r[0] for r in si_rows} and len(si_rows) >= 20
    queries["stream_incremental_admit"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), si_rows, "doc_id")

    # ---- stream_warc_admit: the tape-fed twin — B arrives as TWO WARC
    # tape waves (sorted halves, one AvailableNow pass each), each wave
    # admitted against A plus the prior wave. The tape carries raw text
    # bytes, so the walk is the same union-rerun sequential truth with
    # 2 chunks instead of 4; the framing/checkpoint plumbing has no
    # Python twin — a re-parsed wave or a missed record lands as extra/
    # missing rows.
    sw_half = (len(si_ids) + 1) // 2
    sw_cur = {d: t for d, t in inc.items() if d < 350}
    sw_rows = []
    for ids_g in (si_ids[:sw_half], si_ids[sw_half:]):
        for d in ids_g:
            sw_cur[d] = inc[d]
        sw_rows.extend(inc_recipe_slice(sw_cur, ids_g[0], inc_vocab_rank))
    sw_rows.sort()
    assert set(sw_rows) != set(inc_rows), \
        "warc-admit fixture vacuous: 2-wave admission equals one-shot batch"
    assert set(sw_rows) != set(si_rows), \
        "warc-admit fixture vacuous: 2-wave equals 4-batch admission"
    assert len(sw_rows) >= 20
    queries["stream_warc_admit"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), sw_rows, "doc_id")

    # ---- stream_admit_replay: the crash-replay twin — wave 2 completes
    # every write, dies before the checkpoint commit, and is replayed on
    # restart (admitBatch's generation skip path + id-anti-join appends).
    # Exactly-once means the crash is INVISIBLE in the output: the gate
    # answers to the same union-rerun rows as the uncrashed tape admit.
    queries["stream_admit_replay"] = (
        ("doc_id", "n_chars_inc", "n_tok_inc", "nb_score"),
        ("BIGINT", "BIGINT", "BIGINT", "DOUBLE"), sw_rows, "doc_id")

    # ---- signature_dedup_pairs: banding collisions + 24-component
    # signature-fraction similarity (mirrors BandedLsh.nearDupPairsBySignature:
    # same 8x3 blocking as minhash_dedup_pairs, est = equal components / 24).
    sp_sigs, sp_buckets = {}, {}
    for doc_id, text in docs:
        if len(text) < 4:
            continue
        sh = vk.shingles_from_text(text, 4)
        sp_sigs[doc_id] = vk.minhash_bands(sh, 24, 1, 321)
        for band, h in enumerate(vk.minhash_bands(sh, 8, 3, 123)):
            sp_buckets.setdefault((band, h), []).append(doc_id)
    sp_pairs = set()
    for ids in sp_buckets.values():
        uniq = sorted(set(ids))
        for i in range(len(uniq)):
            for j in range(i + 1, len(uniq)):
                sp_pairs.add((uniq[i], uniq[j]))
    sp_rows = []
    for pa, pb in sorted(sp_pairs):
        eq = sum(1 for x, y in zip(sp_sigs[pa], sp_sigs[pb]) if x == y)
        est = eq / 24.0
        if est > 0.4:
            sp_rows.append((pa, pb, est))
    sp_sql = (
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,"
        " CAST(est_sim AS DOUBLE) AS est_sim\n"
        "FROM (VALUES\n"
        f"{values_block([(a_, b_, repr(e)) for a_, b_, e in sp_rows])}\n"
        ") AS t(id_a, id_b, est_sim)\nORDER BY id_a, id_b")
    custom["signature_dedup_pairs"] = (sp_rows, ("id_a", "id_b", "est_sim"), sp_sql)

    # ---- rolling_dedup: probe docs (>= 400) vs an indexed corpus built in
    # two steps (save index on < 300, append 300..399) — mirrors
    # saveSignatureIndex(hotBucketCap=5) + appendToSignatureIndex +
    # nearDupAgainstIndex(threshold=0.35). The emitted set is banding-
    # defined (>= 1 shared 8x3 band) then exact-Jaccard verified, so pairs
    # whose ONLY collisions route through hot-sidecar buckets (including
    # batch-appended rows — the round-6 routing-bug scenario) are
    # load-bearing: mis-routing an append drops rows here.
    rd_bands, rd_shingles = {}, {}
    for doc_id, text in docs:
        if len(text) < 4:
            continue
        sh = vk.shingles_from_text(text, 4)
        rd_shingles[doc_id] = set(sh)
        rd_bands[doc_id] = vk.minhash_bands(sh, 8, 3, 123)
    rd_rows = []
    for c in sorted(d for d in rd_bands if d >= 400):
        for o in sorted(d for d in rd_bands if d < 400):
            if not any(rd_bands[c][b] == rd_bands[o][b] for b in range(8)):
                continue
            sa, sb = rd_shingles[c], rd_shingles[o]
            inter = len(sa & sb)
            sim = inter / (len(sa) + len(sb) - inter)
            if sim > 0.35:
                rd_rows.append((c, o, sim))
    rd_sql = (
        "SELECT CAST(batch_id AS BIGINT) AS batch_id,"
        " CAST(corpus_id AS BIGINT) AS corpus_id, CAST(sim AS DOUBLE) AS sim\n"
        "FROM (VALUES\n"
        f"{values_block([(c_, o_, repr(s_)) for c_, o_, s_ in rd_rows])}\n"
        ") AS t(batch_id, corpus_id, sim)\nORDER BY batch_id, corpus_id")
    custom["rolling_dedup"] = (rd_rows, ("batch_id", "corpus_id", "sim"), rd_sql)

    # ---- takedown_pipeline: ONE deletion set (doc_id % 7 == 0, < 400)
    # through BOTH doc-side index families, every post-delete surface
    # re-derived over the SURVIVORS only. Spans: the dup-span chain
    # (lowercase [a-z]+ tokens, 8-grams, cross-doc dup grams, island
    # merge) — a full Python re-derivation, independent of the DuckDB CTE
    # the per-index gates use. Pairs: the rolling banding-collision +
    # exact-Jaccard set (reuses rd_bands/rd_shingles) with the corpus
    # side filtered to survivors. Composition bugs (deletion applied to
    # one index only, id-threading) land here as row drift.
    tk_alive = {did for did, _ in docs if did < 400 and did % 7 != 0}
    tk_grams = {}
    for did, text in docs:
        if did not in tk_alive:
            continue
        toks = [w for w in re.split('[^a-z]+', text.lower()) if w]
        for i in range(len(toks) - 7):
            tk_grams.setdefault(' '.join(toks[i:i + 8]), []).append((did, i))
    tk_flagged = {}
    for g, occ in tk_grams.items():
        ds = {d for d, _ in occ}
        if len(ds) > 1:
            for d, p in occ:
                tk_flagged.setdefault(d, set()).add(p)
    tk_rows = []
    for d, poss in tk_flagged.items():
        start = prev_fin = None
        for p in sorted(poss):
            if start is None:
                start, prev_fin = p, p + 7
            elif p > prev_fin + 1:
                tk_rows.append(("span", d, start, float(prev_fin - start + 1)))
                start, prev_fin = p, p + 7
            else:
                prev_fin = max(prev_fin, p + 7)
        if start is not None:
            tk_rows.append(("span", d, start, float(prev_fin - start + 1)))
    assert tk_rows, "takedown_pipeline vacuous: no surviving dup span"
    tk_npair = 0
    for c in sorted(d for d in rd_bands if d >= 400):
        for o in sorted(d for d in rd_bands if d < 400 and d % 7 != 0):
            if not any(rd_bands[c][b] == rd_bands[o][b] for b in range(8)):
                continue
            sa, sb = rd_shingles[c], rd_shingles[o]
            inter = len(sa & sb)
            sim = inter / (len(sa) + len(sb) - inter)
            if sim > 0.35:
                tk_rows.append(("pair", c, o, sim))
                tk_npair += 1
    assert tk_npair, "takedown_pipeline vacuous: no surviving probe pair"
    assert any(d % 7 == 0 and d < 400 for d in rd_bands), \
        "takedown_pipeline vacuous: deletion set empty"
    tk_rows.sort()
    tk_sql = (
        "SELECT CAST(surface AS VARCHAR) AS surface, CAST(a AS BIGINT) AS a,"
        " CAST(b AS BIGINT) AS b, CAST(v AS DOUBLE) AS v\n"
        "FROM (VALUES\n"
        f"{values_block([(sql_lit(s_), a_, b_, sql_lit(v_)) for s_, a_, b_, v_ in tk_rows])}\n"
        ") AS t(surface, a, b, v)\nORDER BY surface, a, b")
    custom["takedown_pipeline"] = (tk_rows, ("surface", "a", "b", "v"), tk_sql)

    # ---- index_health: append-drift maintenance scan (mirrors
    # saveSignatureIndex(docs<300, hotBucketCap=5) + appendToSignatureIndex
    # (300..399) + signatureIndexHealth(cap=5)). Build-time classification:
    # buckets with > 5 rows go to the hot sidecar; appends route by that
    # FROZEN classification (never re-classify); the health scan reports
    # main-table buckets that appends pushed past the cap. Reuses rd_bands
    # (same 4-gram 8x3 seed-123 family, len >= 4 filter = bandedRows').
    from collections import Counter as _Counter
    ih_build = _Counter()
    for did, bs in rd_bands.items():
        if did < 300:
            for b, h in enumerate(bs):
                ih_build[(b, h)] += 1
    ih_hot = {k for k, c in ih_build.items() if c > 5}
    ih_main = _Counter({k: c for k, c in ih_build.items() if k not in ih_hot})
    for did, bs in rd_bands.items():
        if 300 <= did < 400:
            for b, h in enumerate(bs):
                if (b, h) not in ih_hot:
                    ih_main[(b, h)] += 1
    ih_rows = sorted((b, s64(h), c) for (b, h), c in ih_main.items() if c > 5)
    assert ih_rows, "index_health gate is vacuous: no drifted buckets at this SF"
    ih_sql = (
        "SELECT CAST(band AS INT) AS band,"
        " CAST(band_hash AS BIGINT) AS band_hash,"
        " CAST(bucket_rows AS BIGINT) AS bucket_rows\n"
        "FROM (VALUES\n"
        f"{values_block(ih_rows)}\n"
        ") AS t(band, band_hash, bucket_rows)\nORDER BY band, band_hash")
    custom["index_health"] = (ih_rows, ("band", "band_hash", "bucket_rows"), ih_sql)

    # ---- sig_index_compact: retention-delete compaction on the signature
    # index (mirrors the index_health build+append — docs<300 at cap=5,
    # append 300..399 routed by the FROZEN build classification — then
    # compactSignatureIndex with every doc_id % 7 == 0 deleted). The
    # mirror re-hashes NOTHING for the compaction itself: classification
    # is frozen (ih_hot), deletion just drops the ids, and the output is
    # the per-store per-bucket population. A hot-store bucket at or below
    # the cap in this output is the frozen-classification contract made
    # visible; asserts pin that the gate exercises both stores and the
    # below-cap-but-still-hot case.
    sc_store = {}  # (store, band, h) -> count over SURVIVING rows
    sc_del_main = sc_del_hot = 0
    for did, bs in rd_bands.items():
        if did >= 400:
            continue
        for b, h in enumerate(bs):
            hot = (b, h) in ih_hot
            if did % 7 == 0:
                if hot:
                    sc_del_hot += 1
                else:
                    sc_del_main += 1
                continue
            k = ("hot" if hot else "main", b, h)
            sc_store[k] = sc_store.get(k, 0) + 1
    assert sc_del_main and sc_del_hot, \
        "sig_index_compact gate is vacuous: a store has no deletions"
    assert any(st == "hot" and c <= 5 for (st, _, _), c in sc_store.items()), \
        "sig_index_compact gate is vacuous: no below-cap hot bucket survives"
    sc_rows = sorted((st, b, s64(h), c) for (st, b, h), c in sc_store.items())
    sc_sql = (
        "SELECT CAST(store AS VARCHAR) AS store, CAST(band AS INT) AS band,"
        " CAST(band_hash AS BIGINT) AS band_hash,"
        " CAST(bucket_rows AS BIGINT) AS bucket_rows\n"
        "FROM (VALUES\n"
        f"{values_block([(sql_lit(st), b, h, c) for st, b, h, c in sc_rows])}\n"
        ") AS t(store, band, band_hash, bucket_rows)\n"
        "ORDER BY store, band, band_hash")
    custom["sig_index_compact"] = (
        sc_rows, ("store", "band", "band_hash", "bucket_rows"), sc_sql)

    # ---- ann_index_health: append-drift maintenance for the persisted
    # IVF-PQ index (mirrors fitIvfPq(nlist=16, seed=11, iters=5) cell
    # assignment + 60 frozen-model-encoded copies of each of vecs 0..4
    # appended + ivfPqIndexHealth(maxSkew=1.5)). PQ codes never affect cell
    # counts, so the mirror needs only the coarse quantizer.
    def fit_ivfpq_cents(vecs, nlist, seed, iters, sample_size):
        """Coarse-quantizer CENTROIDS under fitIvfPq's training:
        std_normal init from StdRng(seed) + Lloyd's over the hash-ordered
        sample — the ivfpq_topk_rows recipe, NOT kmeans_centroids'
        sample-init (that mirrors trainQuantizer(initFromSample=true))."""
        d = len(next(iter(vecs.values())))
        order = sorted(vecs, key=lambda vid: (spark_xxhash64(vid, seed), vid))[:sample_size]
        sample = [vecs[vid] for vid in order]
        rng = vk.StdRng(seed)
        cents = [[vk.std_normal(rng) for _ in range(d)] for _ in range(nlist)]
        for _ in range(iters):
            sums = [[0.0] * d for _ in range(nlist)]
            counts = [0] * nlist
            for v in sample:
                c = nearest_centroid(v, cents)
                counts[c] += 1
                for j in range(d):
                    sums[c][j] += v[j]
            cents = [cents[c] if counts[c] == 0
                     else [sums[c][j] / counts[c] for j in range(d)]
                     for c in range(nlist)]
        return cents

    def fit_ivfpq_cells(vecs, nlist, seed, iters, sample_size):
        """NearestCell assignment under [[fit_ivfpq_cents]]."""
        cents = fit_ivfpq_cents(vecs, nlist, seed, iters, sample_size)
        return {vid: nearest_centroid(v, cents) for vid, v in vecs.items()}

    aih_cells = fit_ivfpq_cells(vecs, nlist=16, seed=11, iters=5, sample_size=10000)
    aih_counts = _Counter(aih_cells.values())
    for vid in range(5):
        aih_counts[aih_cells[vid]] += 60
    aih_total = len(vecs) + 5 * 60
    aih_rows = sorted(
        (c, n, n * 16 / aih_total)
        for c, n in aih_counts.items() if n * 16 / aih_total > 1.5)
    assert aih_rows, "ann_index_health gate is vacuous: no drifted cells"
    assert len(aih_rows) < 16, "ann_index_health gate is vacuous: every cell trips"
    aih_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows,"
        " CAST(skew AS DOUBLE) AS skew\n"
        "FROM (VALUES\n"
        f"{values_block([(c, n, repr(sk)) for c, n, sk in aih_rows])}\n"
        ") AS t(cell, cell_rows, skew)\nORDER BY cell")
    custom["ann_index_health"] = (aih_rows, ("cell", "cell_rows", "skew"), aih_sql)

    # ---- ann_index_rebalance: the drift REPAIR (rebalanceIvfPqCells).
    # Same build (nlist=16, seed=11) but diverse drift (base + 3.0 +
    # 0.05*rep elementwise), appended under the frozen quantizer; ballooned
    # cells (skew > 1.5) split against per-cell sample-init sub-quantizers
    # (kmeans_centroids, seed 77+cell); centroid list updated in place +
    # appended; ONLY ballooned cells' rows reassigned by nearest over the
    # updated list. Output mirror: per-cell population of the final index.
    import math
    reb_cents = fit_ivfpq_cents(vecs, nlist=16, seed=11, iters=5,
                                sample_size=10000)
    reb_vecs = dict(vecs)
    reb_cell = {vid: nearest_centroid(v, reb_cents) for vid, v in vecs.items()}
    for vid in range(5):
        base = vecs[vid]
        for rep in range(1, 61):
            nid = vid + rep * 100000
            v = [x + 3.0 + 0.05 * rep for x in base]
            reb_vecs[nid] = v
            reb_cell[nid] = nearest_centroid(v, reb_cents)
    reb_total = len(reb_vecs)
    reb_counts = _Counter(reb_cell.values())
    reb_ballooned = sorted(
        (c, n, n * 16 / reb_total)
        for c, n in reb_counts.items() if n * 16 / reb_total > 1.5)
    assert reb_ballooned, "ann_index_rebalance gate is vacuous: nothing ballooned"
    new_cents = [list(c) for c in reb_cents]
    extras = []
    for c, _n, skew in reb_ballooned:
        k = max(2, math.ceil(2.0 * skew / 1.5))
        members = {vid: reb_vecs[vid]
                   for vid, cc in reb_cell.items() if cc == c}
        subs = kmeans_centroids(members, k, 77 + c, 5, 10000)
        new_cents[c] = subs[0]
        extras.extend(subs[1:])
    all_cents = new_cents + extras
    flagged_cells = {c for c, _n, _s in reb_ballooned}
    final_cell = {vid: (nearest_centroid(reb_vecs[vid], all_cents)
                        if cc in flagged_cells else cc)
                  for vid, cc in reb_cell.items()}
    reb_rows = sorted(_Counter(final_cell.values()).items())
    # the repair must actually spread the mass: appended sub-cells hold
    # rows, and NO cell holds more than maxSkew x the BUILD-TIME expected
    # occupancy (the absolute probe-cost bar; relative skew re-bases as
    # nlist grows, so untouched cells' skews rise by construction — the
    # scaladoc's re-run-health-for-the-authoritative-state note)
    assert any(c >= 16 for c, _n in reb_rows), \
        "ann_index_rebalance vacuous: no appended sub-cell was populated"
    reb_bar = 1.5 * reb_total / 16
    worst_n = max(n for _c, n in reb_rows)
    assert worst_n <= reb_bar, \
        f"ann_index_rebalance: worst cell still holds {worst_n} rows > bar {reb_bar}"
    reb_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows\n"
        "FROM (VALUES\n"
        f"{values_block(reb_rows)}\n"
        ") AS t(cell, cell_rows)\nORDER BY cell")
    custom["ann_index_rebalance"] = (reb_rows, ("cell", "cell_rows"), reb_sql)

    # ---- ann_index_merge: the complementary STARVATION repair
    # (mergeStarvedIvfPqCells). Same build (nlist=16, seed=11) but a big
    # concentrated append (vec_id<5, 200 reps) that leaves the original
    # cells relatively starved; cells with skew < 0.5 among the populated
    # PLUS the build's never-populated live cells retire (Inf-sentinel
    # dead slots — ids never shift), and ONLY the starved populated cells'
    # rows reassign, each to its own nearest SURVIVING centroid. Output
    # mirror: per-cell population of the final codes table.
    mrg_cents = fit_ivfpq_cents(vecs, nlist=16, seed=11, iters=5,
                                sample_size=10000)
    mrg_vecs = dict(vecs)
    mrg_cell = {vid: nearest_centroid(v, mrg_cents) for vid, v in vecs.items()}
    for vid in range(5):
        base = vecs[vid]
        for rep in range(1, 201):
            nid = vid + rep * 100000
            v = [x + 3.0 + 0.05 * rep for x in base]
            mrg_vecs[nid] = v
            mrg_cell[nid] = nearest_centroid(v, mrg_cents)
    mrg_total = len(mrg_vecs)
    mrg_counts = _Counter(mrg_cell.values())
    mrg_starved_pop = sorted(
        c for c, n in mrg_counts.items() if n * 16 / mrg_total < 0.5)
    mrg_empty = sorted(c for c in range(16) if mrg_counts[c] == 0)
    assert mrg_starved_pop, "ann_index_merge gate is vacuous: nothing starved"
    assert mrg_empty, "ann_index_merge gate is vacuous: no empty live cells"
    mrg_dead = set(mrg_starved_pop) | set(mrg_empty)
    assert len(mrg_dead) < 16, "ann_index_merge: every cell would retire"
    inf = float("inf")
    mrg_masked = [[inf] * 64 if c in mrg_dead else mrg_cents[c]
                  for c in range(16)]
    mrg_final = {vid: (nearest_centroid(mrg_vecs[vid], mrg_masked)
                       if cc in mrg_dead else cc)
                 for vid, cc in mrg_cell.items()}
    mrg_rows = sorted(_Counter(mrg_final.values()).items())
    assert not any(c in mrg_dead for c, _n in mrg_rows), \
        "ann_index_merge: a retired cell still holds rows"
    mrg_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows\n"
        "FROM (VALUES\n"
        f"{values_block(mrg_rows)}\n"
        ") AS t(cell, cell_rows)\nORDER BY cell")
    custom["ann_index_merge"] = (mrg_rows, ("cell", "cell_rows"), mrg_sql)

    # ---- ann_index_compact: retention-delete compaction (round 14;
    # mirrors Ann.compactIvfPqIndex). Same build (nlist=16, seed=11),
    # a small shifted append (vec_id<3, 40 reps) under the frozen
    # quantizer, then every id % 9 == 0 deletes. Models frozen, cell
    # assignment untouched — the mirror just drops the deleted ids and
    # counts per cell; no quantizer re-run is needed, which is the
    # operator's whole contract.
    cmp_cents = fit_ivfpq_cents(vecs, nlist=16, seed=11, iters=5,
                                sample_size=10000)
    cmp_vecs = dict(vecs)
    cmp_cell = {vid: nearest_centroid(v, cmp_cents) for vid, v in vecs.items()}
    for vid in range(3):
        base = vecs[vid]
        for rep in range(1, 41):
            nid = vid + rep * 100000
            v = [x + 3.0 + 0.05 * rep for x in base]
            cmp_vecs[nid] = v
            cmp_cell[nid] = nearest_centroid(v, cmp_cents)
    cmp_deleted = {vid for vid in cmp_vecs if vid % 9 == 0}
    assert cmp_deleted, "ann_index_compact gate is vacuous: nothing deletes"
    cmp_affected = {cmp_cell[vid] for vid in cmp_deleted}
    assert len(cmp_affected) > 1, \
        "ann_index_compact gate is vacuous: deletions touch a single cell"
    assert len(cmp_affected) < len(set(cmp_cell.values())), \
        "ann_index_compact gate is vacuous: every populated cell is affected"
    cmp_rows = sorted(_Counter(
        c for vid, c in cmp_cell.items() if vid % 9 != 0).items())
    cmp_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows\n"
        "FROM (VALUES\n"
        f"{values_block(cmp_rows)}\n"
        ") AS t(cell, cell_rows)\nORDER BY cell")
    custom["ann_index_compact"] = (cmp_rows, ("cell", "cell_rows"), cmp_sql)

    # ---- ann_index_reindex: full model refresh (mirrors fitIvfPq seed=11
    # build + the cmp drifted append + reindexIvfPq(seed=13) on the FULL
    # raw corpus). The reindex fits FRESH models on base + drift — the
    # mirror refits with the same seeded-hash sample order over the
    # combined ids and counts per cell; a reindex that leaked the old
    # models, dropped rows, or mis-sampled drifts these counts. Reuses
    # cmp_vecs (base + the 120 drifted appends, pre-deletion).
    rx_cents = fit_ivfpq_cents(cmp_vecs, nlist=16, seed=13, iters=5,
                               sample_size=10000)
    rx_rows = sorted(_Counter(
        nearest_centroid(v, rx_cents) for v in cmp_vecs.values()).items())
    rx_old = sorted(_Counter(cmp_cell.values()).items())
    assert rx_rows != rx_old, \
        "ann_index_reindex gate is vacuous: fresh models reproduce the stale assignment"
    rx_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows\n"
        "FROM (VALUES\n"
        f"{values_block(rx_rows)}\n"
        ") AS t(cell, cell_rows)\nORDER BY cell")
    custom["ann_index_reindex"] = (rx_rows, ("cell", "cell_rows"), rx_sql)

    # ---- stream_ann_append: streaming ingestion into the IVF-PQ index
    # (mirrors fitIvfPq on vec_id < 300 ONLY + annAppendReplay of
    # vec_id >= 300 over 4 micro-batches). Frozen models make ingestion
    # commute, so the mirror needs no batch boundaries: fit the quantizer
    # on the base subset (same seeded-hash sample order over the SUBSET),
    # assign every vector its frozen cell, count per cell. Asserts pin
    # that streamed vectors actually spread over multiple cells (a stale
    # session-cache bug that dropped whole batches would change counts).
    sa_base = {vid: v for vid, v in vecs.items() if vid < 300}
    sa_stream = {vid: v for vid, v in vecs.items() if vid >= 300}
    assert sa_base and sa_stream, "stream_ann_append gate is vacuous"
    sa_cents = fit_ivfpq_cents(sa_base, nlist=16, seed=11, iters=5,
                               sample_size=10000)
    sa_cells = {vid: nearest_centroid(v, sa_cents) for vid, v in vecs.items()}
    assert len({sa_cells[vid] for vid in sa_stream}) > 1, \
        "stream_ann_append gate is vacuous: stream lands in one cell"
    sa_rows = sorted(_Counter(sa_cells.values()).items())
    sa_sql = (
        "SELECT CAST(cell AS INT) AS cell,"
        " CAST(cell_rows AS BIGINT) AS cell_rows\n"
        "FROM (VALUES\n"
        f"{values_block(sa_rows)}\n"
        ") AS t(cell, cell_rows)\nORDER BY cell")
    custom["stream_ann_append"] = (sa_rows, ("cell", "cell_rows"), sa_sql)

    # ---- ann_novelty_ingest: dedup-at-ingest (mirrors admitNovelVectors
    # over 4 id-ordered chunks of naturals >= 300 plus exact clones
    # id+100000 of every vec_id % 5 == 0, against the stream_ann_append
    # model family). ADC only SHORTLISTS (top-8 by (adist, neighbor_id)
    # over the nprobe=4 probed cells — reconstruction error swamps true
    # distances, measured: clone ADC 0.71-0.99 vs genuine 0.76-1.0); the
    # verdict is the EXACT squared-L2 against the co-persisted raw store,
    # best <= tau drops. Admission judges the PRE-chunk state; an admitted
    # vector joins the state for LATER chunks — a clone of a streamed
    # natural dropping is the cross-batch contract. Every float is the
    # fixed-order IEEE chain the Spark kernels run, so the pinned booleans
    # are exact.
    nv_m, nv_ksub, nv_nprobe, nv_k, nv_tau = 8, 16, 4, 8, 1e-6
    nv_d = len(next(iter(vecs.values())))
    nv_dsub = nv_d // nv_m
    # fitIvfPq trains its books on the seed+1 stream — the one shared
    # fit_pq_books mirror (module level, also behind pq/ivfpq topk)
    nv_books = fit_pq_books(sa_base, nv_m, nv_ksub, seed=11 + 1, iters=5,
                            sample_size=10000)

    def nv_encode(v):
        return [nearest_centroid(v[s * nv_dsub:(s + 1) * nv_dsub], nv_books[s])
                for s in range(nv_m)]

    def nv_adc(q, codes):
        acc = 0.0
        for s in range(nv_m):
            cent = nv_books[s][codes[s]]
            dist = 0.0
            for j in range(nv_dsub):
                t = q[s * nv_dsub + j] - cent[j]
                dist += t * t
            acc += dist
        return acc

    def nv_sqdist(q, v):
        acc = 0.0
        for j in range(len(q)):
            t = q[j] - v[j]
            acc += t * t
        return acc

    nv_state = {vid: (sa_cells[vid], nv_encode(v)) for vid, v in sa_base.items()}
    nv_raw = dict(sa_base)
    nv_stream = sorted(
        [(vid, v) for vid, v in vecs.items() if vid >= 300] +
        [(vid + 100000, v) for vid, v in vecs.items() if vid % 5 == 0])
    nv_chunk = max(1, (len(nv_stream) + 3) // 4)
    nv_rows = []
    nv_clone_d, nv_nat_d = [], []
    for i in range(0, len(nv_stream), nv_chunk):
        batch = nv_stream[i:i + nv_chunk]
        verdicts = []
        for vid, v in batch:
            # id-level guard mirror: an id the index already holds always
            # drops, before any distance (admitNovelVectors' re-crawl rule)
            if vid in nv_state:
                nv_rows.append((vid, False))
                continue
            probes = set(nearest_centroids(v, sa_cents, nv_nprobe))
            scored = sorted(
                (nv_adc(v, cs), nid)
                for nid, (c, cs) in nv_state.items()
                if c in probes and nid != vid)
            best = None
            for _, nid in scored[:nv_k]:
                dd = nv_sqdist(v, nv_raw[nid])
                if best is None or dd < best:
                    best = dd
            (nv_clone_d if vid >= 100000 else nv_nat_d).append(best)
            verdicts.append((vid, v, best is None or best > nv_tau))
        for vid, v, adm in verdicts:
            nv_rows.append((vid, adm))
            if adm:
                nv_state[vid] = (nearest_centroid(v, sa_cents), nv_encode(v))
                nv_raw[vid] = v
    nv_rows.sort()
    nv_cd = sorted(d for d in nv_clone_d if d is not None)
    nv_nd = sorted(d for d in nv_nat_d if d is not None)
    print(f"ann_novelty_ingest tau={nv_tau}: clone exact-best "
          f"[{nv_cd[0]:.4g}..{nv_cd[-1]:.4g}] med={nv_cd[len(nv_cd)//2]:.4g}; "
          f"natural exact-best [{nv_nd[0]:.4g}..{nv_nd[-1]:.4g}] "
          f"med={nv_nd[len(nv_nd)//2]:.4g}")
    nv_dropped_clones = sum(1 for vid, adm in nv_rows if vid >= 100000 and not adm)
    nv_crossbatch = sum(1 for vid, adm in nv_rows
                        if vid >= 100300 and not adm)
    nv_admitted_nats = sum(1 for vid, adm in nv_rows if vid < 100000 and adm)
    assert nv_dropped_clones > 0, "ann_novelty_ingest vacuous: no clone dropped"
    assert nv_crossbatch > 0, \
        "ann_novelty_ingest vacuous: no cross-batch drop (clone of a streamed natural)"
    assert nv_admitted_nats > 0, "ann_novelty_ingest vacuous: no natural admitted"
    assert any(not adm for vid, adm in nv_rows) and any(adm for _, adm in nv_rows)
    nv_sql = (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(admitted AS BOOLEAN) AS admitted\n"
        "FROM (VALUES\n"
        f"{values_block([(vid, str(adm).upper()) for vid, adm in nv_rows])}\n"
        ") AS t(vec_id, admitted)\nORDER BY vec_id")
    custom["ann_novelty_ingest"] = (nv_rows, ("vec_id", "admitted"), nv_sql)

    # ---- stream_rolling_dedup: per-micro-batch greedy admission (mirrors
    # EventStreams.rollingDedupReplay: docs >= 300 sorted by id, chunked into
    # 4 batches of ceil(n/4); a doc is blocked iff it banding-collides AND
    # exact-Jaccard > 0.5 with any doc admitted BEFORE its batch — corpus or
    # earlier-batch admit; intra-batch pairs don't block). Reuses rd_bands /
    # rd_shingles (same 4-gram 8x3 seed-123 family).
    def sr_blocks(a, b):
        if a not in rd_bands or b not in rd_bands:
            return False
        if not any(rd_bands[a][k] == rd_bands[b][k] for k in range(8)):
            return False
        sa, sb = rd_shingles[a], rd_shingles[b]
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter) > 0.5

    sr_all = sorted(did for did, _t in docs)
    sr_admitted = set(d for d in sr_all if d < 300)
    sr_stream = [d for d in sr_all if d >= 300]
    sr_chunk = max(1, -(-len(sr_stream) // 4))
    sr_rows = []
    for i in range(0, len(sr_stream), sr_chunk):
        batch = sr_stream[i:i + sr_chunk]
        kept = [b for b in batch
                if not any(sr_blocks(b, a) for a in sr_admitted)]
        sr_rows.extend((b, b in set(kept)) for b in batch)
        sr_admitted.update(kept)
    sr_rows.sort()
    sr_sql = (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(admitted AS BOOLEAN) AS admitted\n"
        "FROM (VALUES\n"
        f"{values_block([(d_, str(a_).upper()) for d_, a_ in sr_rows])}\n"
        ") AS t(doc_id, admitted)\nORDER BY doc_id")
    custom["stream_rolling_dedup"] = (sr_rows, ("doc_id", "admitted"), sr_sql)

    # ---- multimodal_features_real: re-derive ImageIoDecoder's features
    # straight from the synthetic-PNG pixel recipe (Multimodal.syntheticPngs:
    # dims 16+id%9 x 16+id%7, channel byte = FxHash(add(add(add(add(0,id),
    # x),y),c)) & 0xff) — no PNG machinery in Python, so the Spark side's
    # encode->ImageIO decode roundtrip must reproduce the raster exactly.
    # Kept twin (pixel recipe): Python has no PNG decoder, and the gate's
    # point is that Spark's decode reproduces this raster.
    mr_rows = []
    for m in range(64):
        mw, mh = 16 + m % 9, 16 + m % 7
        chk = vk.Fx()
        tot = 0
        for y in range(mh):
            for x in range(mw):
                for c in range(3):
                    v = vk.Fx().add(m).add(x).add(y).add(c).fin() & 0xFF
                    chk.add(v)
                    tot += v
        mean = tot / (mw * mh * 3)
        mr_rows.append((m, s64(chk.fin()), mw, mh, mean))
    mr_sql = (
        "SELECT CAST(media_id AS BIGINT) AS media_id,"
        " CAST(checksum AS BIGINT) AS checksum, CAST(width AS INT) AS width,"
        " CAST(height AS INT) AS height, CAST(mean_byte AS DOUBLE) AS mean_byte\n"
        "FROM (VALUES\n"
        f"{values_block([(m_, c_, w_, h_, repr(mb_)) for m_, c_, w_, h_, mb_ in mr_rows])}\n"
        ") AS t(media_id, checksum, width, height, mean_byte)\nORDER BY media_id")
    custom["multimodal_features_real"] = (
        mr_rows, ("media_id", "checksum", "width", "height", "mean_byte"), mr_sql)

    # ---- image_phash_dedup: perceptual near-dup pairs re-derived from
    # the pixel recipe with NO image libraries — rasters (originals,
    # 4x4-corner +64 twins at id 100+m for m%3==0, exact re-encodes at
    # id 200+m for m%5==0), integer gray (299r+587g+114b), 9x8 floor-
    # boundary grid of floor-mean cells, dHash gradient bits, then the
    # same 4x16-bit pigeonhole banding + Hamming <= 10 the Scala
    # operator runs. The Spark side decodes real PNG bytes through
    # ImageIO; PNG is lossless, so any hash difference is an extractor
    # bug, not codec noise.
    # Kept twin (pixel recipe): Python has no image library to decode the
    # PNG bytes Spark hashes.
    def ip_raster(m):
        mw, mh = 16 + m % 9, 16 + m % 7
        return [[(vk.Fx().add(m).add(x).add(y).add(0).fin() & 0xFF,
                  vk.Fx().add(m).add(x).add(y).add(1).fin() & 0xFF,
                  vk.Fx().add(m).add(x).add(y).add(2).fin() & 0xFF)
                 for x in range(mw)] for y in range(mh)]

    def ip_dhash(px):
        h, w = len(px), len(px[0])
        if w < 9 or h < 8:
            return None
        gray = [[299 * r + 587 * g + 114 * b for (r, g, b) in row]
                for row in px]

        def mean(i, j):
            x0, x1 = j * w // 9, (j + 1) * w // 9
            y0, y1 = i * h // 8, (i + 1) * h // 8
            s = sum(gray[y][x] for y in range(y0, y1)
                    for x in range(x0, x1))
            return s // ((y1 - y0) * (x1 - x0))

        m9 = [[mean(i, j) for j in range(9)] for i in range(8)]
        bits = 0
        for i in range(8):
            for j in range(8):
                if m9[i][j] > m9[i][j + 1]:
                    bits |= 1 << (i * 8 + j)
        return bits

    ip_imgs = {}
    for m in range(48):
        base = ip_raster(m)
        ip_imgs[m] = base
        if m % 3 == 0:
            ip_imgs[100 + m] = [
                [((r + 64) & 0xFF, (g + 64) & 0xFF, (b + 64) & 0xFF)
                 if x < 4 and y < 4 else (r, g, b)
                 for x, (r, g, b) in enumerate(row)]
                for y, row in enumerate(base)]
        if m % 5 == 0:
            ip_imgs[200 + m] = base
    ip_h = {mid: ip_dhash(px) for mid, px in ip_imgs.items()}
    assert all(v is not None for v in ip_h.values())
    ip_ids = sorted(ip_h)
    ip_rows = []
    for i in range(len(ip_ids)):
        for j in range(i + 1, len(ip_ids)):
            a, b = ip_ids[i], ip_ids[j]
            ha, hb = ip_h[a], ip_h[b]
            if any(((ha >> (16 * c)) & 0xFFFF) == ((hb >> (16 * c)) & 0xFFFF)
                   for c in range(4)):
                d = bin(ha ^ hb).count("1")
                if d <= 10:
                    ip_rows.append((a, b, d))
    ip_rows.sort()
    ip_pr = {(a, b): d for a, b, d in ip_rows}
    assert all(ip_pr.get((m, 200 + m)) == 0 for m in range(0, 48, 5)), \
        "re-encoded exact twins must hash identical (pixel-defined identity)"
    assert all((m, 100 + m) in ip_pr for m in range(0, 48, 3)), \
        "every corner-shift twin must band-collide (damage confined to band 0)"
    assert any(ip_pr[(m, 100 + m)] > 0 for m in range(0, 48, 3)), \
        "all twin distances are 0: the perturbation is vacuous"
    queries["image_phash_dedup"] = (
        ("id_a", "id_b", "hamming"), ("BIGINT", "BIGINT", "INTEGER"),
        ip_rows, "id_a, id_b")

    # ---- multimodal_resize_real: the EXACT thumbnail bytes re-derived
    # from the pixel recipe — aspect fit (long side -> 8, floor short
    # side), box-filter floor-mean per channel over floor-boundary
    # cells, row-major RGB bytes, sha256-pinned. PNG is lossless, so a
    # hash difference is a resize bug, not codec noise.
    import hashlib

    def mr_fit(w, h, md):
        if w <= md and h <= md:
            return w, h
        if w >= h:
            return md, max(1, h * md // w)
        return max(1, w * md // h), md

    def mr_resize(px, ow, oh):
        h, w = len(px), len(px[0])
        out = bytearray()
        for i in range(oh):
            y0, y1 = i * h // oh, (i + 1) * h // oh
            for j in range(ow):
                x0, x1 = j * w // ow, (j + 1) * w // ow
                n = (y1 - y0) * (x1 - x0)
                for c in range(3):
                    s = sum(px[y][x][c]
                            for y in range(y0, y1) for x in range(x0, x1))
                    out.append((s // n) & 0xFF)
        return bytes(out)

    mr_rows = []
    for m in range(48):
        px = ip_raster(m)
        h, w = len(px), len(px[0])
        ow, oh = mr_fit(w, h, 8)
        pix = mr_resize(px, ow, oh)
        mr_rows.append((m, w, h, ow, oh, hashlib.sha256(pix).hexdigest()))
    assert all(ow < w and oh < h for _m, w, h, ow, oh, _s in mr_rows), \
        "every fixture raster must actually downscale"
    queries["multimodal_resize_real"] = (
        ("media_id", "width", "height", "out_w", "out_h", "pix_sha256"),
        ("BIGINT", "INTEGER", "INTEGER", "INTEGER", "INTEGER", "VARCHAR"),
        mr_rows, "media_id")

    # ---- audio_fp_dedup: perceptual audio near-dup pairs re-derived from
    # the synthetic-PCM recipe with NO audio libraries — samples
    # (originals; first-segment +9973 twins at id 100+m for m%3==0;
    # byte-identical exact twins at id 200+m for m%5==0), mono = long sum
    # over channels, 33 floor-boundary time segments, full-band |mono| and
    # first-difference |d| energies, 64 sign-of-delta bits
    # (graft.core.AudioFingerprint), then the same 4x16-bit pigeonhole
    # banding + Hamming <= 6 the Scala operator runs. PCM is lossless, so
    # any fingerprint difference is a decode/recipe bug, not codec noise.
    # Kept twin (sample recipe): Python has no audio library to decode the
    # WAV bytes Spark fingerprints.
    def af_samples(m, perturb):
        ch = 1 + m % 2
        frames = 400 + (m % 5) * 37
        seg_end = frames // 33
        out = []
        for k in range(frames * ch):
            u = vk.Fx().add(m).add(k).fin() & 0xFFFF
            if perturb and (k // ch) < seg_end:
                u = (u + 9973) & 0xFFFF
            out.append(u - 0x10000 if u >= 0x8000 else u)
        return out, frames, ch

    def af_fp(samples, frames, ch):
        if frames < 33:
            return None
        mono = [sum(samples[t * ch:(t + 1) * ch]) for t in range(frames)]
        e, z = [], []
        for k in range(33):
            t0, t1 = k * frames // 33, (k + 1) * frames // 33
            e.append(sum(abs(mono[t]) for t in range(t0, t1)))
            z.append(sum(abs(mono[0] if t == 0 else mono[t] - mono[t - 1])
                         for t in range(t0, t1)))
        bits = 0
        for i in range(32):
            if e[i + 1] > e[i]:
                bits |= 1 << i
            if z[i + 1] > z[i]:
                bits |= 1 << (32 + i)
        return bits

    af_h = {}
    for m in range(48):
        af_h[m] = af_fp(*af_samples(m, False))
        if m % 3 == 0:
            af_h[100 + m] = af_fp(*af_samples(m, True))
        if m % 5 == 0:
            af_h[200 + m] = af_h[m]
    assert all(v is not None for v in af_h.values())
    af_ids = sorted(af_h)
    af_rows = []
    for i in range(len(af_ids)):
        for j in range(i + 1, len(af_ids)):
            a, b = af_ids[i], af_ids[j]
            ha, hb = af_h[a], af_h[b]
            if any(((ha >> (16 * c)) & 0xFFFF) == ((hb >> (16 * c)) & 0xFFFF)
                   for c in range(4)):
                d = bin(ha ^ hb).count("1")
                if d <= 6:
                    af_rows.append((a, b, d))
    af_rows.sort()
    af_pr = {(a, b): d for a, b, d in af_rows}
    assert all(af_pr.get((m, 200 + m)) == 0 for m in range(0, 48, 5)), \
        "byte-identical exact twins must fingerprint identical"
    assert all((m, 100 + m) in af_pr for m in range(0, 48, 3)), \
        "every first-segment twin must band-collide (damage confined)"
    assert any(af_pr[(m, 100 + m)] > 0 for m in range(0, 48, 3)), \
        "all twin distances are 0: the perturbation is vacuous"
    queries["audio_fp_dedup"] = (
        ("id_a", "id_b", "hamming"), ("BIGINT", "BIGINT", "INTEGER"),
        af_rows, "id_a, id_b")

    # ---- curate_multimodal: the composed (media, caption) recipe —
    # caption rules -> global caption first-come dedup -> per-modality
    # perceptual near-dup (greedy keep-earliest) — re-derived stage by
    # stage over the SAME recipe hashes as the piecewise gates (ip_h for
    # images, af_h for audio; audio ids offset +1000). Every stage's
    # survivor set feeds the next, so stage-order bugs land as row
    # mismatches. Media ids, kinds and captions come from the
    # multimodal_media fixture; its ids must be exactly the recipe's.
    cm_media = load_fixture("multimodal_media",
                            ("media_id", "kind", "caption"), fix_dir)
    cm_kind = {mid: kind for mid, kind, _c in cm_media}
    cm_cap = {mid: cap for mid, _k, cap in cm_media}
    assert cm_kind == {**{mid: "image" for mid in ip_h},
                       **{1000 + mid: "audio" for mid in af_h}}, \
        "multimodal_media ids/kinds differ from the pixel/sample recipes"
    cm_hash = {mid: ip_h[mid] for mid in ip_h}
    cm_hash.update({1000 + mid: af_h[mid] for mid in af_h})
    # stage 1: caption rules
    cm_s1 = [mid for mid in sorted(cm_kind)
             if len(cm_cap[mid].split()) >= 4
             and len(cm_cap[mid]) <= 200]
    assert len(cm_s1) < len(cm_kind), "caption rule stage is vacuous"
    # stage 2: global first-come caption dedup
    cm_first = {}
    for mid in cm_s1:
        cm_first.setdefault(cm_cap[mid], mid)
    cm_s2 = [mid for mid in cm_s1 if cm_first[cm_cap[mid]] == mid]
    assert len(cm_s2) < len(cm_s1), "caption dedup stage is vacuous"
    # the planted duplicate class must resolve to ONE survivor, and it
    # must be the smallest id across BOTH modalities
    dup_ids = [mid for mid in cm_s1 if mid % 11 == 5]
    assert len(dup_ids) > 2 and min(dup_ids) in cm_s2 and \
        all(d not in cm_s2 for d in dup_ids[1:])

    # stage 3: per-modality banded pairs over stage-2 survivors, greedy drop
    def cm_drops(ids, maxd):
        drops = set()
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ha, hb = cm_hash[ids[i]], cm_hash[ids[j]]
                if any(((ha >> (16 * c)) & 0xFFFF)
                       == ((hb >> (16 * c)) & 0xFFFF) for c in range(4)):
                    if bin(ha ^ hb).count("1") <= maxd:
                        drops.add(ids[j])
        return drops

    cm_img_drops = cm_drops(
        [m for m in cm_s2 if cm_kind[m] == "image"], 10)
    cm_aud_drops = cm_drops(
        [m for m in cm_s2 if cm_kind[m] == "audio"], 6)
    assert cm_img_drops and cm_aud_drops, \
        "perceptual stage vacuous in one modality"
    cm_rows = [(mid, cm_kind[mid], cm_cap[mid]) for mid in cm_s2
               if mid not in cm_img_drops and mid not in cm_aud_drops]
    cm_rows.sort()
    # at least one near twin must have reached stage 3 and been dropped
    # there (not already killed by a caption rule)
    assert any(100 <= d < 200 for d in cm_img_drops) and \
        any(1100 <= d < 1200 for d in cm_aud_drops)
    queries["curate_multimodal"] = (
        ("media_id", "kind", "caption"), ("BIGINT", "VARCHAR", "VARCHAR"),
        cm_rows, "media_id")

    # ---- multimodal_features_jpeg: the lossy second codec path. Python
    # cannot decode JPEG here, and JPEG's decoded raster is codec-defined —
    # so the oracle pins what IS recipe-derivable: exact dims (JPEG
    # preserves them) and mean_ok=TRUE, the Spark side's claim that the
    # decoded mean byte lies within 2.0 of the recipe raster's mean
    # (measured codec noise < 0.5 at quality 0.95; a wrong decode is tens
    # off or the -1 sentinel).
    # Kept twin (raster dims): Python has no JPEG decoder.
    mj_rows = [(m, 16 + m % 9, 16 + m % 7, "TRUE") for m in range(48)]
    mj_sql = (
        "SELECT CAST(media_id AS BIGINT) AS media_id,"
        " CAST(width AS INT) AS width, CAST(height AS INT) AS height,"
        " CAST(mean_ok AS BOOLEAN) AS mean_ok\n"
        "FROM (VALUES\n"
        f"{values_block(mj_rows)}\n"
        ") AS t(media_id, width, height, mean_ok)\nORDER BY media_id")
    custom["multimodal_features_jpeg"] = (
        [(m, w, h, True) for m, w, h, _ in mj_rows],
        ("media_id", "width", "height", "mean_ok"), mj_sql)

    # ---- multimodal_features_wav: re-derive WavDecoder's features from
    # the synthetic-PCM recipe (Multimodal.syntheticWavs: 1+m%2 channels,
    # 400+(m%5)*37 frames, interleaved sample k = FxHash(add(add(0,m),k))
    # & 0xffff) — no WAV machinery in Python; PCM is lossless, so the
    # Spark side's encode->javax.sound decode roundtrip must reproduce the
    # sample stream exactly.
    # Kept twin (sample recipe): Python has no WAV decoder, and the gate's
    # point is that Spark's decode reproduces these samples.
    wv_rows = []
    for m in range(48):
        ch = 1 + m % 2
        frames = 400 + (m % 5) * 37
        chk = vk.Fx()
        tot = 0
        for k in range(frames * ch):
            u = vk.Fx().add(m).add(k).fin() & 0xFFFF
            chk.add(u)
            tot += abs(u - 0x10000 if u >= 0x8000 else u)
        wv_rows.append((m, s64(chk.fin()), frames, ch, tot / (frames * ch)))
    wv_sql = (
        "SELECT CAST(media_id AS BIGINT) AS media_id,"
        " CAST(checksum AS BIGINT) AS checksum, CAST(n_frames AS INT) AS n_frames,"
        " CAST(channels AS INT) AS channels, CAST(mean_abs AS DOUBLE) AS mean_abs\n"
        "FROM (VALUES\n"
        f"{values_block([(m_, c_, f_, ch_, repr(ma_)) for m_, c_, f_, ch_, ma_ in wv_rows])}\n"
        ") AS t(media_id, checksum, n_frames, channels, mean_abs)\nORDER BY media_id")
    custom["multimodal_features_wav"] = (
        wv_rows, ("media_id", "checksum", "n_frames", "channels", "mean_abs"), wv_sql)

    # ---- semantic_dedup (mirror graft.api.SemanticDedup): 16-cell k-means
    # (sample init, seed 77), drop any vector with a lower-id cosine>=0.35
    # neighbor in its own cell. Full rows pinned: the cells depend on the
    # Lloyd's float chain DuckDB cannot recompute.
    sem_cents = kmeans_centroids(vecs, nlist=16, seed=77, iters=5, sample_size=500)
    sem_cells = {vid: nearest_centroid(v, sem_cents) for vid, v in vecs.items()}
    sem_members = {}
    for vid in sorted(vecs):
        sem_members.setdefault(sem_cells[vid], []).append(vid)
    sem_rows = []
    for vid in sorted(vecs):
        mem = sem_members[sem_cells[vid]]
        kept = not any(cosine(vecs[a], vecs[vid]) >= 0.35
                       for a in mem if a < vid)
        sem_rows.append((vid, sem_cells[vid], kept))
    sem_sql = (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INTEGER) AS cluster,\n"
        "       CAST(kept AS BOOLEAN) AS kept\n"
        "FROM (VALUES\n"
        f"{values_block([(v, c, 'TRUE' if k else 'FALSE') for v, c, k in sem_rows])}\n"
        ") AS t(vec_id, cluster, kept)\nORDER BY vec_id")
    custom["semantic_dedup"] = (sem_rows, ("vec_id", "cluster", "kept"), sem_sql)

    # ---- embed_tfidf / semantic_dedup_text (round 13): hashed TF-IDF
    # text embeddings (MLlib HashingTF+IDF recipe, crc32 buckets, pinned-ln
    # idf, correctly-rounded norm chain), then SemDeDup composed over them
    # end to end with the same kmeans/cosine mirrors as semantic_dedup.
    import math as _math
    TD = 32
    tf_cnt = {}
    for did, t in docs:
        c = {}
        for tok in re.split(r"[^a-z]+", (t or "").lower()):
            if tok:
                b = _zlib.crc32(tok.encode("utf-8")) % TD
                c[b] = c.get(b, 0) + 1
        tf_cnt[did] = c
    tf_df = [0] * TD
    for c in tf_cnt.values():
        for b in c:
            tf_df[b] += 1
    tf_N = len(docs)
    tf_idf = [ln_pinned(float(tf_N + 1)) - ln_pinned(float(tf_df[b] + 1))
              for b in range(TD)]
    tf_raw, tf_nrm = {}, {}
    for did, _t in docs:
        raw = [float(tf_cnt[did].get(b, 0)) * tf_idf[b] for b in range(TD)]
        acc = 0.0
        for x in raw:
            acc += x * x
        nrm = _math.sqrt(acc)
        tf_raw[did] = raw
        tf_nrm[did] = [x / nrm for x in raw] if nrm != 0.0 else raw
    et_rows = [(did, p, tf_raw[did][p], tf_nrm[did][p])
               for did in sorted(tf_raw) for p in range(TD)]
    queries["embed_tfidf"] = (
        ("doc_id", "pos", "tfidf", "nval"),
        ("BIGINT", "BIGINT", "DOUBLE", "DOUBLE"), et_rows, "doc_id, pos")

    st_vecs = {did: tf_nrm[did] for did, _t in docs}
    st_cents = kmeans_centroids(st_vecs, nlist=8, seed=7, iters=5, sample_size=500)
    st_cells = {vid: nearest_centroid(v, st_cents) for vid, v in st_vecs.items()}
    st_members = {}
    for vid in sorted(st_vecs):
        st_members.setdefault(st_cells[vid], []).append(vid)

    def st_live(vid):
        return any(x != 0.0 for x in st_vecs[vid])

    st_rows = []
    for vid in sorted(st_vecs):
        mem = st_members[st_cells[vid]]
        kept = not (st_live(vid) and any(
            a < vid and st_live(a) and cosine(st_vecs[a], st_vecs[vid]) >= 0.3
            for a in mem))
        st_rows.append((vid, st_cells[vid], kept))
    assert any(not k for _v, _c, k in st_rows), "semantic_dedup_text gate vacuous: nothing dropped"
    queries["semantic_dedup_text"] = (
        ("vec_id", "cluster", "kept"),
        ("BIGINT", "INTEGER", "BOOLEAN"), st_rows, "vec_id")

    # ---- semantic_prototypes: k=5 most central vectors per cell (squared
    # L2 to the cell centroid, ties by id) — mirrors
    # SemanticDedup.clusterPrototypes over the SAME trained cells.
    pr_rows = []
    for cell in sorted(set(sem_cells.values())):
        ranked = sorted(
            (centroid_dist(vecs[vid], sem_cents[cell]), vid)
            for vid in sem_members[cell])
        for r, (d_, vid) in enumerate(ranked[:5], start=1):
            pr_rows.append((vid, cell, r, d_))
    pr_rows.sort(key=lambda t: (t[1], t[2]))
    pr_sql = (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INTEGER) AS cluster,\n"
        "       CAST(\"rank\" AS BIGINT) AS \"rank\", CAST(center_dist AS DOUBLE) AS center_dist\n"
        "FROM (VALUES\n"
        f"{values_block([(v, c, r, repr(d_)) for v, c, r, d_ in pr_rows])}\n"
        ") AS t(vec_id, cluster, \"rank\", center_dist)\nORDER BY cluster, \"rank\"")
    custom["semantic_prototypes"] = (pr_rows,
                                     ("vec_id", "cluster", '"rank"', "center_dist"),
                                     pr_sql)

    # ---- contamination_embed: xxhash64 2%-sample bench, corpus pairs with
    # cosine >= 0.25. The pair SET is pinned; the sim column is recomputed
    # by DuckDB's list_cosine_similarity (engine-checked, not copied).
    ce_bench = sorted(v for v in vecs if hash_score(v, 99) < 0.02)
    ce_rows = [(vid, bid, cosine(vecs[vid], vecs[bid]))
               for vid in sorted(vecs) for bid in ce_bench
               if vid != bid and cosine(vecs[vid], vecs[bid]) >= 0.25]
    ce_sql = (
        "WITH sel(vec_id, bench_id) AS (VALUES\n"
        f"{values_block([r[:2] for r in ce_rows])}\n),\n"
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)\n"
        "SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.bench_id AS BIGINT) AS bench_id,\n"
        "       list_cosine_similarity(c.v, b.v) AS sim\n"
        "FROM sel s JOIN e c ON c.vec_id = s.vec_id JOIN e b ON b.vec_id = s.bench_id\n"
        "ORDER BY vec_id, bench_id")
    custom["contamination_embed"] = (ce_rows, ("vec_id", "bench_id", "sim"), ce_sql)

    # ---- contamination_embed_ann: the IVF-shortlisted form
    # (Contamination.embedOverlapAnn). Mirror: sample-init Lloyd's
    # (kmeans_centroids — trainQuantizer(initFromSample=true)) over the
    # SAME 2%-hash bench sample, NearestCell per bench vector, nprobe=3
    # probe list per corpus vector (nearest_centroids — distance-then-index
    # tie order), exact cosine only where the bench cell is probed. Pair
    # set pinned; sim values recomputed by DuckDB like contamination_embed.
    cea_bvecs = {b: vecs[b] for b in ce_bench}
    cea_cents = kmeans_centroids(cea_bvecs, 8, 101, 5, 10000)
    cea_bcell = {b: nearest_centroid(v, cea_cents) for b, v in cea_bvecs.items()}
    cea_rows = []
    for vid in sorted(vecs):
        probes = set(nearest_centroids(vecs[vid], cea_cents, 3))
        for b in ce_bench:
            if vid != b and cea_bcell[b] in probes:
                sim = cosine(vecs[vid], vecs[b])
                if sim >= 0.25:
                    cea_rows.append((vid, b, sim))
    assert cea_rows, "contamination_embed_ann gate is vacuous: no pairs"
    # the shortlist must actually prune: strictly fewer pairs than nprobe =
    # nlist would emit is NOT required (recall can be 1.0), but the recall
    # floor the spec pins must hold in the mirror too
    cea_recall = (len({r[:2] for r in cea_rows} & {r[:2] for r in ce_rows})
                  / float(len(ce_rows)))
    assert cea_recall >= 0.9, \
        f"contamination_embed_ann mirror recall {cea_recall} < 0.9"
    cea_sql = (
        "WITH sel(vec_id, bench_id) AS (VALUES\n"
        f"{values_block([r[:2] for r in cea_rows])}\n),\n"
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)\n"
        "SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.bench_id AS BIGINT) AS bench_id,\n"
        "       list_cosine_similarity(c.v, b.v) AS sim\n"
        "FROM sel s JOIN e c ON c.vec_id = s.vec_id JOIN e b ON b.vec_id = s.bench_id\n"
        "ORDER BY vec_id, bench_id")
    custom["contamination_embed_ann"] = (cea_rows, ("vec_id", "bench_id", "sim"), cea_sql)

    # ---- curate_embeddings: the composed embedding recipe — semantic-dedup
    # survivors (sem_rows) minus anything cosine>=0.25-near the bench
    # sample. Stage order matters: decontamination sees only the KEPT
    # corpus, and the bench is drawn from the FULL corpus.
    cu_kept = {v: c for v, c, k in sem_rows if k}
    # flagged set DERIVED from ce_rows (they already cover the full corpus
    # with the v != b rule and the 0.25 threshold): one place owns the
    # contamination semantics, and the composed oracle cannot drift from
    # the contamination_embed oracle it is documented to compose
    cu_flagged = {v for v, _b, _s in ce_rows if v in cu_kept}
    cu_rows = [(v, cu_kept[v]) for v in sorted(cu_kept) if v not in cu_flagged]
    cu_sql = (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cluster AS INTEGER) AS cluster\n"
        "FROM (VALUES\n"
        f"{values_block(cu_rows)}\n"
        ") AS t(vec_id, cluster)\nORDER BY vec_id")
    custom["curate_embeddings"] = (cu_rows, ("vec_id", "cluster"), cu_sql)

    custom_order = {"rolling_dedup": "batch_id, corpus_id",
                    "index_health": "band, band_hash",
                    "sig_index_compact": "store, band, band_hash",
                    "takedown_pipeline": "surface, a, b",
                    "ann_index_health": "cell",
                    "ann_index_rebalance": "cell",
                    "ann_index_merge": "cell",
                    "ann_index_compact": "cell",
                    "stream_ann_append": "cell",
                    "ann_novelty_ingest": "vec_id",
                    "ann_index_reindex": "cell",
                    "multimodal_features_real": "media_id",
                    "multimodal_features_wav": "media_id",
                    "multimodal_features_jpeg": "media_id",
                    "ann_recall": "method",
                    "cosine_lsh_pairs": "id_a, id_b",
                    "stream_rolling_dedup": "doc_id",
                    "ann_topk_lsh": 'query_id, "rank"',
                    "ann_topk_lsh_bucketed": 'query_id, "rank"',
                    "ann_topk_ivf": 'query_id, "rank"',
                    "ann_topk_pq": 'query_id, "rank"',
                    "ann_topk_ivfpq": 'query_id, "rank"',
                    "token_entropy": "doc_id",
                    "doc_logprob": "doc_id",
                    "doc_logprob_bigram": "doc_id",
                    "signature_dedup_pairs": "id_a, id_b",
                    "lsh_blocking_join": "key_a, key_b",
                    "edit_blocked_pairs": "key_a, key_b",
                    "semantic_dedup": "vec_id",
                    "stream_embed_neardup": "band, id_a, id_b",
                    "contamination_embed": "vec_id, bench_id",
                    "contamination_embed_ann": "vec_id, bench_id",
                    "curate_embeddings": "vec_id",
                    "semantic_prototypes": 'cluster, "rank"',
                    "sample_hash": "doc_id",
                    "sample_stratified": "lang, doc_id",
                    "dataset_splits": "doc_id",
                    "sketch_distinct": "l_returnflag",
                    "sketch_rollup": "l_returnflag",
                    "hist_quantiles": "lang",
                    "sample_weighted": "doc_id",
                    "mix_sources": "doc_id",
                    "mix_temperature": "doc_id",
                    "stream_hist_quantiles": "win_start, event_type",
                    "bloom_semijoin": "c_custkey",
                    "cms_topk": "exact_cnt DESC, token",
                    "stream_hll_users": "win_start, event_type",
                    "stream_cms_userfreq": "win_start, event_type, user_id"}
    ok = True
    for name, (cols, types, rows, order_by) in queries.items():
        if spark_dir:
            ok &= crosscheck(name, rows, cols, spark_dir, order_by)
    for name, (rows, cols, _sql) in custom.items():
        if spark_dir:
            ok &= crosscheck(name, rows, cols, spark_dir, custom_order[name])
    if not ok:
        print("crosscheck failed; no SQL written")
        return 1
    for name, (cols, types, rows, order_by) in queries.items():
        emit(name, cols, types, rows, order_by)
    for name, (rows, cols, sql) in custom.items():
        emit_sql(name, sql, len(rows))
    return 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__[__doc__.index("Usage:"):])
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
