"""Deduplication operators for web-scale training corpora (task directive):
exact (fingerprint groupBy), n-gram Jaccard near-dup pairs, MinHash+LSH,
SimHash hamming candidates. Spark-first — every stage is DataFrame built-ins;
no Python in any hot path.

Scale notes (100 TB / 10^12 docs):
  * Exact dedup: one shuffle on the 16-byte fingerprint; AQE coalesces.
  * Shingle self-joins are quadratic per shingle — the `shingle_freq_cap`
    drops ultra-common shingles (stopword runs) which would otherwise create
    skewed join keys; that is the salting story for this operator.
  * MinHash: K independent min-aggregations (map-side partial agg, one
    shuffle); LSH banding turns the O(n²) pair space into per-band buckets;
    a second exact-Jaccard pass verifies candidates (no false positives).
  * All hashes are cross-engine md5-derived (h32/h60 prefixes; the seeded
    MinHash family is Kirsch-Mitzenmacher over two md5 bases), so results
    are deterministic and oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.operators.text_analysis import fingerprint, h32

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def exact_dedup_sql(text_expr: str = "text", id_col: str = "doc_id") -> str:
    from ocr_spark.operators.text_analysis import fingerprint_sql

    fp = fingerprint_sql(text_expr)
    return (
        f"SELECT * EXCLUDE (rn) FROM (SELECT *, {fp} AS fp, "
        f"row_number() OVER (PARTITION BY {fp} ORDER BY {id_col}) AS rn "
        f"FROM documents) WHERE rn = 1"
    )


# ---------------------------------------------------------------------------
# word shingles (shared by jaccard / minhash)
# ---------------------------------------------------------------------------


_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def byte_string_as_bytes(s: str, default: int = 134217728) -> int:
    """Spark byte-string conf value → bytes (JavaUtils.byteStringAsBytes
    semantics: integer + optional case-insensitive b/k/kb/m/mb/g/gb/t/tb/p/pb
    suffix; bare numbers are bytes for this conf). A session value like
    '128m' or '64MB' must NOT be read as 128/64 bytes — that would silently
    overestimate split counts exactly when the user tuned the conf."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(s))
    if not m:
        return default
    mult = _BYTE_SUFFIXES.get(m.group(2).lower())
    if mult is None:
        return default
    return int(m.group(1)) * mult


def _estimated_scan_splits(docs: DataFrame) -> int | None:
    """Estimated number of scan partitions for a file-backed frame: splittable
    formats divide each file into ~maxPartitionBytes tasks, so a few LARGE
    parquet files still yield many splits — counting files alone would force
    a pointless full-corpus shuffle on exactly the well-laid-out inputs.
    Returns None for non-file frames (in-memory, JDBC, post-shuffle): those
    either carry the session's parallelism already or their layout is the
    caller's explicit choice (e.g. coalesce(1))."""
    try:
        files = docs.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sess = docs.sparkSession
    n = len(files)
    if n >= sess.sparkContext.defaultParallelism:
        return n  # enough splits whatever the sizes
    try:
        import math

        raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        max_bytes = byte_string_as_bytes(raw)
        jvm = sess._jvm
        hconf = sess._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            splits += max(1, math.ceil(size / max_bytes))
        return splits
    except Exception:
        return n  # size probe unavailable → fall back to the file count


def _ensure_parallel(docs: DataFrame) -> DataFrame:
    """Input-layout independence: a source with fewer splits than cores (one
    fat row group, a single gzip part…) would serialize every downstream
    explode/agg on a handful of tasks. One cheap round-robin repartition of
    the raw docs unlocks the cluster; skipped when the scan already has
    enough splits (the normal case at production scale).

    Splits are ESTIMATED from driver-side file metadata (listing + sizes /
    maxPartitionBytes) instead of `.rdd.getNumPartitions()` — the RDD probe
    materializes the pre-AQE physical plan for arbitrary upstream
    DataFrames, which is both costly and reports pre-AQE counts."""
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    splits = _estimated_scan_splits(docs)
    if splits is not None and splits < target:
        return docs.repartition(target * 2)
    return docs


def _words_sql(text_col: str) -> str:
    """Spark SQL text: lower-cased [a-z0-9]+ words of `text_col`."""
    c = text_col.replace("`", "``")
    return f"filter(split(lower(`{c}`), '[^a-z0-9]+'), x -> x != '')"


def _exploded_shingles(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) with duplicates — shared base for the distinct variants.

    The tokenization is STAGED as its own projection: `element_at` inside a
    transform lambda re-evaluates inline subtrees per element, so building
    grams directly over filter(split(...)) re-ran the regex split ~n·k times
    per row (measured 20× slower at sf0.1). Referencing the materialized
    `_w` column makes each element_at O(1); Catalyst's CollapseProject keeps
    multi-referenced non-cheap aliases staged (collapseProjectAlwaysInline
    defaults false). Both projections are sent as SQL text: one parse on
    the JVM instead of a Py4J round trip per Column node."""
    staged = _ensure_parallel(docs).select(
        F.col(id_col).alias("id"), F.expr(_words_sql(text_col)).alias("_w")
    )
    k = f"greatest(size(_w) - {n - 1}, 0)"
    gram = ", ".join(f"element_at(_w, i + {j + 1})" for j in range(n))
    return staged.select(
        "id",
        F.expr(
            f"explode(CASE WHEN {k} > 0 THEN transform(sequence(0, {k} - 1), "
            f"i -> concat_ws(' ', {gram})) ELSE array() END)"
        ).alias("shingle"),
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). Pure built-ins:
    split → transform over index range → explode → distinct."""
    return _exploded_shingles(docs, n, id_col, text_col).distinct()


def shingles_hashed(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sh:long) — shingles keyed by the 60-bit cross-engine hash.

    The self-join/shuffle keys shrink from ~25-byte strings to 8-byte longs;
    60 bits keeps collisions negligible at corpus scale (birthday bound
    ~3e-9 per pair at 10^6 distinct shingles per neighborhood), and both
    engines hash identically (md5 prefix) so the oracle stays exact."""
    from ocr_spark.operators.text_analysis import h60

    return (
        _exploded_shingles(docs, n, id_col, text_col)
        .select("id", h60(F.col("shingle")).alias("sh"))
        .distinct()
    )


def _shingles_sql(
    n: int = 3, text_expr: str = "text", id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return (
        f"SELECT DISTINCT {id_col} AS id, unnest(grams) AS shingle FROM ("
        f"SELECT {id_col}, list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
        f"i -> {gram}) AS grams FROM ("
        f"SELECT {id_col}, list_filter(regexp_split_to_array(lower({text_expr}), "
        f"'[^a-z0-9]+'), x -> x <> '') AS w FROM {table}))"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    shingle_freq_cap: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard >= threshold.

    shingle_freq_cap drops shingles appearing in more than that many docs —
    the skew guard: one viral shingle otherwise yields cap² join rows.

    Shingles are keyed by their 60-bit hash (shingles_hashed): 8-byte join/
    shuffle keys instead of ~25-byte strings, identical results modulo a
    ~3e-9/pair collision bound, exact vs the oracle (same hash both sides).
    """
    sh = shingles_hashed(docs, n=n, id_col=id_col, text_col=text_col)
    if shingle_freq_cap:
        freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
        sh = sh.join(
            F.broadcast(freq.where(F.col("df") > shingle_freq_cap)),
            "sh",
            "left_anti",
        )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_sql(threshold: float = 0.8, n: int = 3, shingle_freq_cap: int | None = 1000) -> str:
    from ocr_spark.operators.text_analysis import h60_sql

    cap_clause = (
        f"WHERE sh NOT IN (SELECT sh FROM shh GROUP BY sh "
        f"HAVING count(*) > {shingle_freq_cap})"
        if shingle_freq_cap
        else ""
    )
    return f"""
WITH sh0 AS ({_shingles_sql(n)}),
shh AS (SELECT DISTINCT id, {h60_sql('shingle')} AS sh FROM sh0),
shc AS (SELECT * FROM shh {cap_clause}),
sizes AS (SELECT id, count(*) AS sz FROM shc GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


_MH_MASK30 = (1 << 30) - 1


def _mh_base(col):
    """Two independent md5-derived 30-bit base hashes of the shingle key.
    All k seeded family members derive from these two via the classic
    Kirsch-Mitzenmacher combination h_i = (h1 + i·h2) mod 2^30 — 2 md5
    computations per distinct shingle instead of k (the md5s were ~20% of
    the whole MinHash query at sf0.1, and the saving scales with k). Both
    components live on the SAME 30-bit ring, so every member mixes them
    uniformly (a wide h1 with a narrow i·h2 would collapse to one effective
    permutation), and i·h2 + h1 < 2^36 can never overflow int64 — DuckDB
    errors on overflow where Spark would wrap silently and diverge.
    Cross-engine (DuckDB twin below) so the whole MinHash+LSH operator stays
    oracle-checkable. 30-bit minima keep per-shingle collision odds ~1e-9."""
    from ocr_spark.operators.text_analysis import h60

    s = col.cast("string")
    h1 = h60(F.concat_ws(":", s, F.lit("A"))).bitwiseAND(F.lit(_MH_MASK30))
    h2 = h60(F.concat_ws(":", s, F.lit("B"))).bitwiseAND(F.lit(_MH_MASK30))
    return h1, h2


def _mh_member(h1, h2, i: int):
    """Seeded family member i: (h1 + i·h2) mod 2^30."""
    return (h1 + F.lit(i) * h2).bitwiseAND(F.lit(_MH_MASK30))


def minhash_signatures(
    docs: DataFrame, k: int = 32, n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, sig:array<bigint>) — k min-hash values over word shingles.
    Hash family: Kirsch-Mitzenmacher h_i = (h1 + i·h2) mod 2^30 over two
    md5-derived base hashes of the 8-byte shingle key; k min-aggs = one
    shuffle with map-side partial aggregation, only 2 md5s per shingle."""
    sh = shingles_hashed(docs, n=n, id_col=id_col, text_col=text_col)
    h1, h2 = _mh_base(F.col("sh"))
    mins = [F.min(_mh_member(h1, h2, i)).alias(f"h{i}") for i in range(k)]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def minhash_band_buckets(
    docs: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sig, band, bh) — one row per (document, band): the LSH band
    bucket keys minhash_lsh_pairs joins on, exposed so the streaming
    near-dedup registry claims EXACTLY the batch operator's buckets. Band
    bucket key = h60 of the band's comma-joined minhashes (8-byte key with
    a DuckDB twin)."""
    from ocr_spark.operators.text_analysis import h60

    rows = k // bands
    sig = minhash_signatures(docs, k=k, n=n, id_col=id_col, text_col=text_col)
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    h60(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", bi * rows + r + 1).cast("string")
                                for r in range(rows)
                            ],
                        )
                    ).alias("bh"),
                )
                for bi in range(bands)
            ]
        )
    ).alias("bb")
    return sig.select("id", "sig", band_cols).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def minhash_est_jaccard(sig_a, sig_b, k: int):
    """Signature-estimated Jaccard: fraction of equal minhash members —
    the verification predicate shared by the batch and streaming paths."""
    return F.round(
        F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(k)),
        6,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs via LSH banding, verified by signature-estimated
    Jaccard (fraction of equal minhashes) >= threshold.

    bands×rows = k; a pair lands in a bucket iff one full band matches.
    Band bucket key = h60 of the band's comma-joined minhashes — an 8-byte
    join key with a DuckDB twin (minhash_lsh_sql), so the operator is
    oracle-checkable end to end.
    """
    buckets = minhash_band_buckets(
        docs, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col
    )
    return pairs_from_band_buckets(buckets, k=k, threshold=threshold)


def pairs_from_band_buckets(
    buckets: DataFrame, k: int, threshold: float
) -> DataFrame:
    """The candidate-join + verify stage over an ALREADY-computed
    (id, sig, band, bh) bucket frame — the single definition shared by
    minhash_lsh_pairs and the incremental index's batch pass
    (dedup_index.py), so a verification change cannot diverge them."""
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "est_jaccard", minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"), k)
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_sql(
    threshold: float = 0.7, k: int = 32, bands: int = 8, n: int = 3
) -> str:
    """DuckDB twin of minhash_lsh_pairs — same Kirsch-Mitzenmacher family
    over the same md5-h60 base hashes, same banding, same
    signature-estimated Jaccard verify."""
    from ocr_spark.operators.text_analysis import h60_sql

    rows = k // bands
    h1_sql = h60_sql("sh::VARCHAR || ':A'")
    h2_sql = h60_sql("sh::VARCHAR || ':B'")
    b1 = f"({h1_sql} & {_MH_MASK30})"
    b2 = f"({h2_sql} & {_MH_MASK30})"
    mins = ", ".join(
        f"min(({b1} + {i} * {b2}) & {_MH_MASK30}) AS h{i}" for i in range(k)
    )
    sig = ", ".join(f"h{i}" for i in range(k))
    band_hash = h60_sql("array_to_string(sig[(t.bi*" + str(rows) + "+1):(t.bi*" + str(rows) + f"+{rows})], ',')")
    return f"""
WITH sh0 AS ({_shingles_sql(n)}),
shh AS (SELECT DISTINCT id, {h60_sql('shingle')} AS sh FROM sh0),
mh AS (SELECT id, list_value({sig}) AS sig FROM (
  SELECT id, {mins} FROM shh GROUP BY id)),
bnd AS (SELECT id, sig, t.bi AS band, {band_hash} AS bh
        FROM mh, range(0, {bands}) t(bi)),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)
SELECT id_a, id_b,
       round(len(list_filter(range(1, {k + 1}), i -> sig_a[i] = sig_b[i])) / {float(k)}, 6)
         AS est_jaccard
FROM cand
WHERE round(len(list_filter(range(1, {k + 1}), i -> sig_a[i] = sig_b[i])) / {float(k)}, 6)
      >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash (64-bit from two md5-derived 32-bit halves — cross-engine exact)
# ---------------------------------------------------------------------------


def _simhash_sig_sql(h: str, bits: int) -> str:
    """Aggregate SQL text of the signature over token hashes `h`, valid in
    Spark and DuckDB alike: bit i is set when more tokens have bit i set
    than not. Bit 63's weight is spelled as BIGINT arithmetic: 2**63 is no
    BIGINT literal, and DuckDB has no shiftleft while its << overflows."""
    def weight(i: int) -> str:
        return "(-9223372036854775807 - 1)" if i == 63 else f"{1 << i}::BIGINT"

    return " + ".join(
        f"(CASE WHEN sum(CASE WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {weight(i)} ELSE 0 END)"
        for i in range(bits)
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60) -> DataFrame:
    """(id, simhash:bigint) — per-bit majority vote over token hashes.

    Token hash is the cross-engine md5 prefix: h32 for bits<=32, h60 above
    (60-bit default — the pigeonhole chunk buckets need wide signatures,
    else chunks are 4-5 bits and candidate buckets explode). One explode +
    one groupBy(sum) shuffle. The hash is projected once and the 60 votes
    and their weighted sum go to the JVM as one SQL text
    (_simhash_sig_sql, shared with simhash_sql): as Column trees they cost
    thousands of Py4J round trips per call."""
    from ocr_spark.operators.text_analysis import h60

    tok = _ensure_parallel(docs).select(
        F.col(id_col).alias("id"), F.explode(F.expr(_words_sql(text_col))).alias("t")
    )
    h = (h32 if bits <= 32 else h60)(F.col("t"))
    return (
        tok.select("id", h.alias("h"))
        .groupBy("id")
        .agg(F.expr(_simhash_sig_sql("h", bits)).alias("simhash"))
    )


def simhash_sql(
    bits: int = 60, id_col: str = "doc_id", text_expr: str = "text",
    table: str = "documents",
) -> str:
    from ocr_spark.operators.text_analysis import h32_sql, h60_sql

    h = (h32_sql if bits <= 32 else h60_sql)("t")
    return (
        f"SELECT id, ({_simhash_sig_sql(h, bits)}) AS simhash FROM ("
        f"SELECT {id_col} AS id, unnest(list_filter(regexp_split_to_array("
        f"lower({text_expr}), '[^a-z0-9]+'), x -> x <> '')) AS t FROM {table}) "
        f"GROUP BY id"
    )


def simhash_chunk_keys(sig: DataFrame, max_hamming: int = 3, bits: int = 60) -> DataFrame:
    """(id, simhash) → (id, simhash, chunk, cv): the pigeonhole chunk keys.
    Chunk sizes partition ALL bits (pigeonhole requires full coverage); the
    first (bits % n_chunks) chunks get one extra bit. Exposed separately so
    scale benches can measure bucket occupancy without running the pairs."""
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    structs, pos = [], 0
    for ci in range(n_chunks):
        sz = base + (1 if ci < extra else 0)
        mask = (1 << sz) - 1 if sz < 64 else -1
        # shiftright, not >>: Spark's parser rejects >> inside array(...)
        structs.append(f"named_struct('chunk', {ci}, 'cv', shiftright(simhash, {pos}) & {mask})")
        pos += sz
    return sig.select("id", "simhash", F.expr(f"inline(array({', '.join(structs)}))"))


def simhash_near_pairs(
    docs: DataFrame | None,
    max_hamming: int = 3,
    bits: int = 60,
    sig: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidates (id_a < id_b, hamming): split the signature into
    (max_hamming+1) chunks — any pair within hamming distance must share one
    exact chunk (pigeonhole). The chunk keys are aggregated once by
    (chunk, cv) into sorted member lists; each bucket emits its pairs
    (every member with the members after it), verified with bit_count(xor)
    and de-duplicated across chunks: the signature is computed once and
    its keyed rows shuffle once. Rows with a null id or signature join no
    bucket.

    Scale guard: chunk-key cardinality is 2^(bits/(max_hamming+1)); narrow
    chunks make bucket sizes, and the pairs each bucket emits, grow
    O(N²/2^chunk_bits). The default (max_hamming=3 over 60 bits → 15-bit
    chunks, 32k buckets) is the scale-safe parameterization; wider radii at
    corpus scale should use two-level chunk+verify instead."""
    n_chunks = max_hamming + 1
    if bits // n_chunks < 12:
        import warnings

        warnings.warn(
            f"simhash_near_pairs: {n_chunks} chunks over {bits} bits leaves "
            f"~{bits // n_chunks}-bit chunk keys (≤{1 << (bits // n_chunks)} "
            "distinct buckets); candidate pairs grow quadratically at corpus "
            "scale — lower max_hamming or use two-level chunk+verify",
            RuntimeWarning,
            stacklevel=2,
        )
    if sig is None:
        sig = simhash(docs, bits=bits, id_col=id_col, text_col=text_col)
    buckets = (
        simhash_chunk_keys(sig, max_hamming=max_hamming, bits=bits)
        .where("id IS NOT NULL AND cv IS NOT NULL")
        .groupBy("chunk", "cv")
        .agg(F.expr("sort_array(collect_list(struct(id, simhash)))").alias("m"))
        .where("size(m) > 1")
    )
    return (
        buckets.selectExpr("posexplode(m) AS (i, a)", "m")
        .selectExpr("a", "explode(slice(m, i + 2, size(m))) AS b")
        .selectExpr(
            "a.id AS id_a", "b.id AS id_b",
            "bit_count(a.simhash ^ b.simhash) AS hamming",
        )
        .where(f"id_a < id_b AND hamming <= {max_hamming}")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# dedup cluster resolution: candidate PAIRS → keep/drop DECISIONS
# (the stage a real training-data pipeline executes after any near-dup
# operator; reference anchor: the per-doc single-result contract,
# ocr_engine_interface.py:56-73 — one representative survives per duplicate
# group)
# ---------------------------------------------------------------------------


# the broadcast-join principle applied to graph resolution: at or below
# this many pairs (~32 MB of longs; near-dup subgraphs are vastly smaller
# than the corpus) one driver union-find beats any number of distributed
# rounds. String ids (URLs, hex hashes) cost ~an order more in pandas
# object columns and the union-find dict, so their cut is 1/8 of it.
_DRIVER_MAX_PAIRS = 2_000_000


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a candidate-pair frame: (id, rep) for every
    id appearing in any pair, rep = the smallest id in its component.

    The pair count is read for free from an Observation on the mandatory
    pair materialization. At or below `_DRIVER_MAX_PAIRS` the components are
    resolved by a single driver-side union-find (zero iterative jobs);
    above it by alternating large-star/small-star (`_clusters_star`), whose
    round count grows with log(n) whatever the component diameter, so
    template-drift chains A~B~C~... converge as fast as dense LSH cliques.
    Labels are identical on both paths.

    `stats`, when provided, receives {'rounds': k, 'converged': bool,
    'algorithm': 'driver' | 'star'}.
    """
    pairs_m, n_pairs = _materialize_pairs(pairs, id_a, id_b)
    budget = _DRIVER_MAX_PAIRS
    if isinstance(pairs_m.schema["id_a"].dataType, T.StringType):
        budget //= 8
    if n_pairs <= budget:
        out = _clusters_driver(pairs_m, stats=stats)  # toPandas consumed it
    else:
        out = _clusters_star(pairs_m, max_rounds=max_rounds, stats=stats)
    # both results read only their own data (driver rows / star's round
    # checkpoints), never pairs_m, so its blocks are released on exit
    pairs_m.unpersist()
    return out


def _materialize_pairs(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> tuple[DataFrame, int]:
    """The pair list as a persisted (id_a, id_b) frame without null-id
    pairs, and its row count. Materialized ONCE because both resolvers read
    it more than once: built straight off an expensive near-dup join, every
    read would re-run that join. persist()+count, NOT localCheckpoint: the
    caller unpersists it after resolution, so its blocks are released (a
    localCheckpoint's blocks cannot be released by API and live for the
    whole session); the count rides an Observation on the same job. Null
    ids are dropped here so both paths see the same edge set: a null never
    equi-joins in star, and the driver path would otherwise label a
    (null, null) row."""
    obs = Observation("dedup_clusters_pairs")
    pairs_m = (
        pairs.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"))
        .na.drop()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .persist()
    )
    pairs_m.count()  # one job: fills the cache AND the observation
    return pairs_m, obs.get["n"] or 0


def _clusters_driver(pairs_m: DataFrame, stats: dict | None) -> DataFrame:
    """Driver-side union-find over a MATERIALIZED small pair frame — the
    graph analogue of a broadcast join: when the near-dup subgraph fits in
    driver memory (bounded by _DRIVER_MAX_PAIRS, ~16 bytes/pair for long
    ids), one collect + a linear union-find with path compression beats
    any number of distributed rounds. Exact same
    (id, rep=component min) labels as _clusters_star.

    pairs_m carries no null id (_materialize_pairs drops them): pandas
    would otherwise turn the long column into float64 whose NaN keys break
    dict identity (NaN != NaN would spin find() forever)."""
    import pandas as pd

    pdf = pairs_m.toPandas()
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["id_a"].to_list(), pdf["id_b"].to_list()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root so rep falls out of find() directly
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = pd.DataFrame(
        {"id": list(parent), "rep": [find(x) for x in parent]}
    )
    if stats is not None:
        stats["rounds"] = 0
        stats["converged"] = True
        stats["algorithm"] = "driver"
    spark = pairs_m.sparkSession
    schema = pairs_m.schema["id_a"].dataType
    out_schema = T.StructType(
        [T.StructField("id", schema), T.StructField("rep", schema)]
    )
    if labels.empty:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(labels, out_schema)


def _clusters_star(
    pairs_m: DataFrame, max_rounds: int, stats: dict | None
) -> DataFrame:
    """Alternating large-star/small-star connected components over a
    MATERIALIZED (id_a, id_b) pair frame. O(log n) rounds independent of
    component diameter (Kiveris et al., SoCC'14).

    Edge set is kept canonical as (lo < hi), deduped, lineage-truncated per
    round. One round =
      large-star: every node u points its LARGER neighbors at
        m(u) = min(N(u) ∪ {u}) — each undirected edge {u,v}, u<v, is
        rewritten by its smaller endpoint to {m(u), v};
      small-star: every node u points its SMALLER-or-self neighbors at the
        minimum of its smaller neighborhood — flattening local chains.
    Both preserve connectivity and never add edges; at fixpoint the edge set
    is a star forest whose centers are the component minima. Convergence is
    detected by an (edge-count, hash-sum) signature match — one cheap agg
    over the already-materialized frame per round.

    Output contract matches the driver path exactly: (id, rep) for every id
    appearing in any pair, rep = smallest id in the component.
    """
    nodes = (
        pairs_m.select(F.col("id_a").alias("id"))
        .unionByName(pairs_m.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _materialize(e: DataFrame, name: str):
        """localCheckpoint + (count, xor-hash) signature from an Observation
        riding the SAME materialization job — no separate signature scan.
        bit_xor (not sum): ANSI-safe, and the edge set is deduped so each
        edge contributes exactly once — (count, xor) is a sound signature."""
        obs = Observation(name)
        m = e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).localCheckpoint(eager=True)
        got = obs.get
        return m, (got["n"], got["h"])

    can, sig = _materialize(
        pairs_m.select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct(),
        "star_init",
    )
    converged = False
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        sym = can.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionByName(
            can.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )
        # large-star: m(u) = min(u, min N(u)); emit {m, v} for v > u.
        # m <= src < dst, so the output is already canonical (lo < hi).
        mins = sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        ls = (
            sym.where(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("m").alias("lo"), F.col("dst").alias("hi"))
            .distinct()
        )
        # small-star over the large-star output: for each u, mn = min of its
        # STRICTLY SMALLER neighbors (mn < u by construction); re-wire those
        # neighbors and u itself to mn.
        sym2 = ls.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionByName(
            ls.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )
        small_in = sym2.where(F.col("dst") < F.col("src"))
        mins2 = small_in.groupBy("src").agg(F.min("dst").alias("mn"))
        e1 = (
            small_in.join(mins2, "src")
            .where(F.col("dst") != F.col("mn"))
            .select(F.col("mn").alias("lo"), F.col("dst").alias("hi"))
        )
        e2 = mins2.select(F.col("mn").alias("lo"), F.col("src").alias("hi"))
        can, new_sig = _materialize(
            e1.unionByName(e2).distinct(), f"star_r{rounds}"
        )
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_clusters(star): edge set still changing after "
            f"{max_rounds} rounds — labels are an upper bound. log2(n) + a "
            "few rounds always suffices; raise max_rounds.",
            RuntimeWarning,
            stacklevel=3,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
        stats["algorithm"] = "star"
    # star forest: every hi's single lo is its component minimum; centers
    # (and any never-seen self-reps) label themselves via the left join
    reps = can.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("_rep"))
    return nodes.join(reps, "id", "left").select(
        "id", F.coalesce("_rep", F.col("id")).alias("rep")
    )


def dedup_clusters_sql(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB twin: recursive-CTE transitive closure over the same pairs,
    min reachable id per node (exact, engine-independent)."""
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (SELECT {id_a} AS src, {id_b} AS dst FROM prs
          UNION SELECT {id_b}, {id_a} FROM prs),
reach(id, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, min(label) AS rep FROM reach GROUP BY id
"""


def near_dedup(
    docs: DataFrame,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rounds: int = 30,
    stats: dict | None = None,
    **method_kw,
) -> DataFrame:
    """The keep/drop operator: docs minus non-representative near-dups.

    Candidate pairs from the chosen near-dup family (minhash | simhash |
    embedding — sign-LSH cosine over an embeddings=<frame> keyed by doc id |
    jaccard), resolved to connected components (dedup_clusters); every doc
    whose id is not its cluster's representative (min id) is dropped via one
    left_anti join. 'exact' short-circuits to exact_dedup (no pair stage).
    `stats` receives dedup_clusters' {'rounds', 'converged', 'algorithm'},
    the algorithm being 'driver' or 'star' as the pair count decides.

    Scale shape: pairs/cluster stages touch only the near-dup SUBGRAPH
    (vastly smaller than the corpus); the final left_anti is the only join
    against the full corpus — an equi-join on the id, broadcast when the
    drop set is small, shuffle otherwise. AQE picks."""
    if method == "exact":
        return exact_dedup(docs, id_col=id_col, text_col=text_col).select(*docs.columns)
    if method == "minhash":
        pairs = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col, **method_kw)
    elif method == "simhash":
        pairs = simhash_near_pairs(docs, id_col=id_col, text_col=text_col, **method_kw)
    elif method == "jaccard":
        pairs = jaccard_pairs(docs, id_col=id_col, text_col=text_col, **method_kw)
    elif method == "embedding":
        # semantic near-dedup: pairs from the sign-LSH embedding family over
        # a SEPARATE embeddings frame whose vector ids are doc ids
        from ocr_spark.operators.similarity import embedding_near_dups

        emb = method_kw.pop("embeddings", None)
        if emb is None:
            raise ValueError(
                "method='embedding' needs embeddings=<DataFrame> with "
                "(vec_id, embedding) keyed by the doc id"
            )
        pairs = embedding_near_dups(emb, **method_kw)
    else:
        raise ValueError(f"unknown near-dedup method {method!r}")
    labels = dedup_clusters(pairs, max_rounds=max_rounds, stats=stats)
    drop = labels.where(F.col("id") != F.col("rep")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# benchmark-contamination check (training-data hygiene): corpus docs sharing
# n-gram shingles with an evaluation set
# ---------------------------------------------------------------------------


def contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shared_shingles, n_eval_docs) for every corpus doc that
    shares at least one word n-gram with any eval doc — the standard
    decontamination sweep before training on web text.

    Scale shape: both sides reduce to (id, 8-byte shingle hash); the join is
    an equi-join on the hash (the eval side is normally tiny → AQE broadcasts
    it), then one groupBy on the corpus id. 13-gram sweeps at 100 TB are the
    same plan with n=13."""
    sh_c = shingles_hashed(corpus, n=n, id_col=id_col, text_col=text_col)
    sh_e = (
        shingles_hashed(eval_docs, n=n, id_col=id_col, text_col=text_col)
        .withColumnRenamed("id", "eval_id")
    )
    # eval sets are small by definition — force the broadcast so the corpus
    # side never sorts/shuffles for this join at any scale
    j = sh_c.join(F.broadcast(sh_e), "sh")
    return j.groupBy(F.col("id").alias(id_col)).agg(
        F.countDistinct("sh").alias("n_shared_shingles"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
    )


def contamination_sql(eval_mod: int = 37, n: int = 8) -> str:
    """DuckDB twin for the oracle split eval = (doc_id % eval_mod == 0)."""
    from ocr_spark.operators.text_analysis import h60_sql

    return f"""
WITH sh0 AS ({_shingles_sql(n)}),
shh AS (SELECT DISTINCT id, {h60_sql('shingle')} AS sh FROM sh0),
ev AS (SELECT id AS eval_id, sh FROM shh WHERE id % {eval_mod} = 0),
co AS (SELECT id, sh FROM shh WHERE id % {eval_mod} <> 0)
SELECT co.id AS doc_id,
       count(DISTINCT co.sh) AS n_shared_shingles,
       count(DISTINCT eval_id) AS n_eval_docs
FROM co JOIN ev USING (sh) GROUP BY co.id
"""


# ---------------------------------------------------------------------------
# Bloom-prefilter decontamination (big-eval regime)
# ---------------------------------------------------------------------------
#
# `contamination` force-broadcasts the eval shingle set — right when the eval
# side is a benchmark suite (MBs). When the "eval" side is itself large (a
# held-out split, a licensed set, corpus-vs-corpus hygiene at 100 TB), the
# raw hash set stops being broadcastable and the join degrades to a full
# SortMergeJoin: the 100-TB corpus side sorts and shuffles EVERY shingle it
# produced, almost all of which match nothing. A Bloom filter is the
# fixed-size broadcastable summary of the eval set: ~1.5 bytes/shingle at
# k=8 (vs 8-byte keys + hash-table overhead), so a 10^9-shingle eval side
# becomes a ~1.7 GB bitmap — or, at 12 bits per item and the
# _BLOOM_MAX_BITS cap, 256 MiB with a still-tiny false-positive rate.
# Corpus shingles test against the bitmap map-side (vectorized numpy over
# Arrow batches, zero per-row Python) and only survivors — true hits plus
# the fpp sliver — enter the exact verify join, which AQE then usually
# broadcasts. False positives cost only wasted verify work; the exact join
# removes them, so the result is bit-identical to `contamination`.

_BLOOM_BITS_PER_ITEM = 12
_BLOOM_HASHES = 8
_BLOOM_MAX_BITS = 1 << 31  # 256 MiB: past this, fpp rises instead of memory


def _bloom_mix64(z: "np.ndarray") -> "np.ndarray":
    """SplitMix64-style finalizer (public Steele/Lea/Flood mixer) — the
    nonlinear avalanche step, golden-gamma increment applied FIRST (note:
    sources/media.py has a same-family mixer withOUT the increment; distinct
    names on purpose — swapping them would silently move every Bloom bit).
    Vectorized uint64, wrap-around multiply by design."""
    import numpy as np

    z = (z + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bloom_positions(h: "np.ndarray", n_hashes: int, m: int):
    """Kirsch-Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m with
    h1, h2 two independent SplitMix64 remixes of the 60-bit shingle hash.
    Both MUST be nonlinear in h: with a power-of-two modulus, linear probes
    (e.g. h2 = C*h) make a probe-0 collision imply collisions at EVERY
    probe — measured fpp 37x above theory before this remix. h2|1 keeps the
    stride odd (bijective mod 2^64) so a key's k probes never collapse.
    Yields uint64 position arrays; m must be a power of two."""
    import numpy as np

    h = h.astype(np.uint64)
    h1 = _bloom_mix64(h)
    h2 = _bloom_mix64(h ^ np.uint64(0xD6E8FEB86659FD93)) | np.uint64(1)
    mask = np.uint64(m - 1)
    for i in range(n_hashes):
        yield (h1 + np.uint64(i) * h2) & mask


def bloom_build(
    sh: DataFrame, n_items: int | None = None
) -> tuple[bytes, int, int]:
    """Build a Bloom bitmap from the `sh` (long) column of a DataFrame.
    Returns (bitmap bytes, m bits, n_hashes).

    Distributed build: each partition folds its shingles into a local bitmap
    inside one vectorized Arrow stage (np.bitwise_or.at), then the P
    per-partition bitmaps tree-OR on the cluster (treeReduce, depth 2) so
    the driver receives O(sqrt(P)) bitmaps, never the raw keys. m is the
    next power of two >= n_items * _BLOOM_BITS_PER_ITEM, capped at
    _BLOOM_MAX_BITS; n_items defaults to a count job over `sh`."""
    import math

    import numpy as np

    if n_items is None:
        n_items = sh.count()
    m = 1 << max(
        10, math.ceil(math.log2(max(n_items, 1) * _BLOOM_BITS_PER_ITEM))
    )
    m = min(m, _BLOOM_MAX_BITS)
    nbytes = m // 8

    def build(batches):
        import pyarrow as pa

        bm = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for b in batches:
            h = b.column("sh").to_numpy(zero_copy_only=False)
            if len(h) == 0:
                continue
            any_rows = True
            for pos in _bloom_positions(h, _BLOOM_HASHES, m):
                np.bitwise_or.at(bm, pos >> np.uint64(3), np.left_shift(
                    np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
        if any_rows:
            yield pa.RecordBatch.from_pydict({"bm": [bm.tobytes()]})

    parts = (
        sh.select("sh")
        .mapInArrow(build, schema="bm binary")
        .rdd.map(lambda r: r[0])
    )
    try:
        merged = parts.treeReduce(
            lambda a, b: np.bitwise_or(
                np.frombuffer(a, dtype=np.uint8), np.frombuffer(b, dtype=np.uint8)
            ).tobytes()
        )
    except ValueError:  # every partition empty -> no bitmap rows at all
        merged = bytes(nbytes)
    return merged, m, _BLOOM_HASHES


def bloom_prefilter(
    df: DataFrame,
    bloom: tuple[bytes, int, int],
    col: str = "sh",
    negate: bool = False,
) -> DataFrame:
    """Keep rows whose long `col` might be in the Bloom filter — the
    map-side prefilter stage. The bitmap rides an explicit SparkContext
    broadcast (one copy per executor, not per task); membership is k
    vectorized gathers per Arrow batch.

    negate=True keeps the DEFINITELY-NOT-members instead (no false
    negatives, so these rows can skip an exact verification join entirely
    — the frontier seen-set pattern)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom)
    schema = df.schema
    idx = [f.name for f in schema.fields].index(col)

    def keep(batches):
        import numpy as np
        import pyarrow as pa

        bm_bytes, m, kh = bc.value
        bm = np.frombuffer(bm_bytes, dtype=np.uint8)
        for b in batches:
            h = b.column(idx).to_numpy(zero_copy_only=False)
            if len(h) == 0:
                continue
            ok = np.ones(len(h), dtype=bool)
            for pos in _bloom_positions(h, kh, m):
                ok &= (
                    bm[(pos >> np.uint64(3)).astype(np.int64)]
                    >> (pos & np.uint64(7)).astype(np.uint8)
                ) & np.uint8(1) > 0
            if negate:
                ok = ~ok
            if ok.any():
                yield b.filter(pa.array(ok))

    return df.mapInArrow(keep, schema=schema)


def contamination_bloom(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """`contamination` for the big-eval regime: identical output (the exact
    verify join removes Bloom false positives), but the corpus side never
    sorts or shuffles non-candidate shingles — they die map-side against
    the broadcast bitmap.

    The corpus side deliberately skips shingles_hashed's per-doc .distinct():
    that distinct is its own full shuffle of every corpus shingle BEFORE the
    prefilter could drop anything (seen in the physical plan), and the final
    countDistinct aggregation dedups survivors anyway. Raw shingles flow
    scan → explode → hash → bloom test with no exchange in between.

    The eval shingle set is persisted only across the two jobs this call
    runs itself (the sizing count and the bitmap build), so the explode +
    distinct shuffle runs once for both; it is released before returning,
    and the verify join derives the eval shingles once more when the
    output is materialized. No cache outlives the call."""
    from ocr_spark.operators.text_analysis import h60

    sh_c = _exploded_shingles(corpus, n, id_col, text_col).select(
        "id", h60(F.col("shingle")).alias("sh")
    )
    sh_e = shingles_hashed(
        eval_docs, n=n, id_col=id_col, text_col=text_col
    ).persist()
    try:
        bloom = bloom_build(sh_e.select("sh"))
    finally:
        sh_e.unpersist()
    surv = bloom_prefilter(sh_c, bloom, col="sh")
    j = surv.join(
        sh_e.withColumnRenamed("id", "eval_id"), "sh"
    )
    return j.groupBy(F.col("id").alias(id_col)).agg(
        F.countDistinct("sh").alias("n_shared_shingles"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram statistics (frequency, with duplicates — corpus counting,
# not the per-doc-distinct sets dedup uses)
# ---------------------------------------------------------------------------


def ngram_topk(
    docs: DataFrame,
    n: int = 2,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k most frequent word n-grams across the corpus (all occurrences
    counted). One explode + one partial-aggregated groupBy; the global top-k
    is a TakeOrdered tree-reduce, not a full sort."""
    grams = _exploded_shingles(docs, n, id_col, text_col)
    return (
        grams.groupBy(F.col("shingle").alias("gram"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("gram"))
        .limit(k)
    )


def ngram_topk_sql(n: int = 2, k: int = 20) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
WITH grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1),
         i -> {gram})) AS gram
  FROM (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS w FROM documents))
SELECT gram, count(*) AS n FROM grams GROUP BY gram
ORDER BY n DESC, gram LIMIT {k}
"""
