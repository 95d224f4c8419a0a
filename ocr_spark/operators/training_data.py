"""Training-sequence materialization — the last mile from a cleaned corpus
to training-ready shards.

pack_sequences (corpus_clean.py) ASSIGNS docs to fixed-token-budget
sequences; this module FILLS them: per-doc BPE token ids
(functions/bpe.py:encode_token_ids) are concatenated in slot order,
truncated/padded to exactly `max_tokens`, and written as deterministic
parquet shards with a row-count/token manifest. Ref: the reference's
contract ends at extracted text + confidence (ocr_engine_interface.py:56-73);
this is the continuation that makes the extraction output consumable by a
trainer.

Two equivalent materializers, bit-identity-tested against each other:

- `materialize_sequences` — pure DataFrame reference implementation
  (join on doc_id, then groupBy seq_id), with an exact DuckDB twin
  (`materialize_sequences_sql`). TWO wide exchanges of the token payload.
- `materialize_sequences_grouped` — the scale path: both sides are grouped
  on the SAME pack bucket (every doc of a sequence shares its bucket by
  construction: seq_id = '{bucket}-{k}'), so one cogrouped Arrow stage
  joins, orders, concatenates and pads inside the bucket partition. The
  token payload crosses the wire ONCE.

At 100 TB the payload shuffle dominates (it is the data); the grouped path
halves it and keeps everything else broadcast/narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_spark.functions.bpe import PAD_ID, SEP_ID


# the grouped materializer relies on "a sequence's docs share one bucket";
# the bucket key is defined ONCE, in the packer's module
from ocr_spark.operators.corpus_clean import pack_bucket as _pack_bucket


def materialize_sequences(
    ids: DataFrame,
    packed: DataFrame,
    max_tokens: int,
    pad_id: int = PAD_ID,
    id_col: str = "doc_id",
    ids_col: str = "input_ids",
    boundaries: bool = False,
) -> DataFrame:
    """Reference materializer: (seq_id, input_ids, n_docs, n_tokens,
    truncated) — input_ids is EXACTLY max_tokens long (pad_id-padded;
    truncated=true only for the packer's oversize singleton sequences,
    whose tail is cut). `ids` is encode_token_ids output; `packed` is
    pack_sequences output on MATCHING token counts (pass
    tokens_col=size(input_ids) so the budget is what gets filled).

    boundaries=True adds `doc_starts: array<int>` — the 0-based token
    offset where each doc begins in slot order (the block-diagonal
    attention mask over packed sequences derives from it). Every start is
    < max_tokens by the packer's budget invariant, so no clipping.

    Deterministic under any partitioning: the per-sequence order is the
    packer's seq_pos, unique within a sequence."""
    j = packed.select(id_col, "seq_id", "seq_pos").join(ids, id_col)
    sorted_arr = F.array_sort(F.collect_list(F.struct("seq_pos", ids_col)))
    agg = j.groupBy("seq_id").agg(
        sorted_arr.alias("_arr"), F.count("*").alias("n_docs")
    )
    agg = agg.withColumn(
        "_flat", F.flatten(F.transform("_arr", lambda s: s[ids_col]))
    )
    cols = [
        F.col("seq_id"),
        F.concat(
            F.slice("_flat", 1, max_tokens),
            F.array_repeat(
                F.lit(pad_id),
                F.greatest(F.lit(0), F.lit(max_tokens) - F.size("_flat")),
            ),
        ).alias("input_ids"),
        F.col("n_docs"),
        F.size("_flat").cast("long").alias("n_tokens"),
        (F.size("_flat") > F.lit(max_tokens)).alias("truncated"),
    ]
    if boundaries:
        # exclusive running sum of doc lengths in slot order
        starts = F.aggregate(
            "_arr",
            F.struct(
                F.lit(0).alias("off"),
                F.expr("array()").cast("array<int>").alias("starts"),
            ),
            lambda acc, s: F.struct(
                (acc["off"] + F.size(s[ids_col])).alias("off"),
                F.concat(acc["starts"], F.array(acc["off"])).alias("starts"),
            ),
            lambda acc: acc["starts"],
        )
        cols.append(starts.alias("doc_starts"))
    return agg.select(*cols)


def materialize_sequences_sql(
    max_tokens: int,
    pad_id: int = PAD_ID,
    ids_table: str = "ids",
    packed_table: str = "packed",
    id_col: str = "doc_id",
    ids_col: str = "input_ids",
    boundaries: bool = False,
) -> str:
    """DuckDB twin of materialize_sequences. Slice + generated pad list,
    mirroring the Spark slice+array_repeat pair — NOT list_resize, whose
    pad-value handling is broken in duckdb 1.0 (trailing element padded
    with 0 on some rows; a synthetic multi-row probe even crashes with
    std::bad_array_new_length)."""
    mt = int(max_tokens)
    starts_sql = (
        ",\n         list(start ORDER BY seq_pos) AS doc_starts" if boundaries else ""
    )
    starts_col = (
        ",\n       doc_starts" if boundaries else ""
    )
    return f"""
WITH j AS (
  SELECT p.seq_id, p.seq_pos, i.{ids_col} AS ids,
         coalesce(sum(len(i.{ids_col}))
                    OVER (PARTITION BY p.seq_id ORDER BY p.seq_pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::INT AS start
  FROM {packed_table} p JOIN {ids_table} i USING ({id_col})
), a AS (
  SELECT seq_id,
         flatten(list(ids ORDER BY seq_pos)) AS flat,
         count(*) AS n_docs{starts_sql}
  FROM j GROUP BY seq_id
)
SELECT seq_id,
       list_concat(
         flat[1:{mt}],
         list_transform(range(greatest(0, {mt} - len(flat))),
                        x -> {int(pad_id)}::INT)
       ) AS input_ids,
       n_docs,
       len(flat)::BIGINT AS n_tokens,
       len(flat) > {mt} AS truncated{starts_col}
FROM a
"""


def materialize_sequences_grouped(
    ids: DataFrame,
    packed: DataFrame,
    max_tokens: int,
    pad_id: int = PAD_ID,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    ids_col: str = "input_ids",
    boundaries: bool = False,
) -> DataFrame:
    """Scale materializer: cogroup the id payload with the pack assignment
    on the pack bucket and build every sequence inside its bucket
    partition — ONE wide exchange of the token payload (the reference
    implementation pays two: the doc_id join, then the seq_id agg).
    n_buckets MUST equal the pack_sequences call's — a mismatch is
    detected at runtime (assignment rows whose doc is missing from the
    bucket's id group) and raises instead of silently dropping tokens.
    Output is bit-identical to materialize_sequences (tested), including
    the boundaries=True doc_starts column.

    Memory bound: applyInPandas materializes ONE bucket's full token
    payload per Python worker call, so size n_buckets with the corpus —
    roughly total_tokens * 4 bytes / n_buckets per call; at 10^12 docs
    that means n_buckets in the tens of thousands, set at pack time (the
    packer's own per-bucket state is just (id, count) rows, so it scales
    to any bucket count)."""
    import pandas as pd

    from pyspark.sql import types as T

    fields = [
        T.StructField("seq_id", T.StringType()),
        T.StructField("input_ids", T.ArrayType(T.IntegerType())),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("truncated", T.BooleanType()),
    ]
    if boundaries:
        fields.append(
            T.StructField("doc_starts", T.ArrayType(T.IntegerType()))
        )
    out_schema = T.StructType(fields)
    gid = ids.select(
        _pack_bucket(id_col, n_buckets).alias("bucket"), id_col, ids_col
    ).groupBy("bucket")
    gasg = packed.select("bucket", id_col, "seq_id", "seq_pos").groupBy(
        "bucket"
    )

    def build(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = id payload, right = assignment; inner join matches the
        # reference implementation (ids without an assignment drop out).
        # The converse — an assignment whose doc is missing from this
        # bucket's id group — means the two sides bucketed differently
        # (n_buckets mismatch with the pack_sequences call): fail loudly
        # rather than materialize sequences with silently-missing tokens.
        if len(right):
            missing = set(right[id_col]) - set(left[id_col])
            if missing:
                raise ValueError(
                    f"{len(missing)} assignment row(s) have no id row in "
                    f"their bucket (e.g. {next(iter(missing))!r}) — "
                    f"n_buckets={n_buckets} does not match the "
                    "pack_sequences call that produced `packed`"
                )
        m = right.merge(left[[id_col, ids_col]], on=id_col, how="inner")
        rows = []
        for seq_id, g in m.groupby("seq_id", sort=False):
            g = g.sort_values("seq_pos", kind="mergesort")
            flat: list[int] = []
            starts: list[int] = []
            for arr in g[ids_col]:
                starts.append(len(flat))
                flat.extend(int(x) for x in arr)
            n = len(flat)
            out = flat[:max_tokens]
            if len(out) < max_tokens:
                out.extend([pad_id] * (max_tokens - len(out)))
            row = (seq_id, out, len(g), n, n > max_tokens)
            rows.append(row + (starts,) if boundaries else row)
        return pd.DataFrame(rows, columns=[f.name for f in fields])

    return gid.cogroup(gasg).applyInPandas(build, out_schema)


def materialize_training(
    docs: DataFrame,
    merges=None,
    max_tokens: int = 2048,
    n_buckets: int = 64,
    sep: bool = True,
    pad_id: int = PAD_ID,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
    boundaries: bool = False,
) -> DataFrame:
    """text -> training sequences in one call: encode_token_ids (with the
    doc separator appended BEFORE packing, so budgets are exact) ->
    pack_sequences on size(input_ids) -> the grouped materializer.

    The id frame feeds both the packer and the materializer, so it is
    always cached and the Arrow encode stage runs once — pass stats={} and
    release with corpus.unpersist_stages(stats) after
    materializing, the corpus_pipeline convention. Without stats the
    cached ids (~4 bytes/token of the whole corpus) stay pinned until
    Spark's LRU eviction reclaims them — fine for one-shot jobs, pass
    stats in long-lived sessions (same trade-off corpus_pipeline
    documents)."""
    from ocr_spark.functions.bpe import encode_token_ids
    from ocr_spark.operators.corpus_clean import pack_sequences

    ids = encode_token_ids(
        docs,
        text_col=text_col,
        id_cols=(id_col,),
        merges=merges,
        sep_id=SEP_ID if sep else None,
    )
    ids = ids.persist()
    if stats is not None:
        stats.setdefault("persisted", []).append(ids)
    counts = ids.select(id_col, F.size("input_ids").alias("_n"))
    packed = pack_sequences(
        counts,
        max_tokens=max_tokens,
        n_buckets=n_buckets,
        id_col=id_col,
        tokens_col="_n",
    )
    return materialize_sequences_grouped(
        ids, packed, max_tokens, pad_id=pad_id, n_buckets=n_buckets,
        id_col=id_col, boundaries=boundaries,
    )


def write_training_shards(
    seqs: DataFrame,
    path: str,
    n_shards: int = 64,
    seed: int = 0,
    mode: str = "error",
) -> None:
    """Write materialized sequences as {path}/shard=K/ parquet with a
    sidecar manifest at {path}/_manifest (underscore-prefixed: invisible
    to parquet directory readers, the _SUCCESS convention).

    Shard assignment pmod(xxhash64(seq_id, seed), n_shards) and the
    within-shard (shard, seq_id) sort are both deterministic functions of
    the DATA, so two writes of the same frame — under any input
    partitioning — produce shard files with identical row sequences
    (tested). A trainer varies `seed` per epoch for a different but
    reproducible shard mix. For resumable/incremental writes use
    ocr_spark.checkpoint, which owns that contract."""
    sharded = seqs.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.col("seq_id"), F.lit(seed)), F.lit(n_shards))
        .cast("int"),
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "seq_id")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    # manifest from the WRITTEN files, not the input plan: re-aggregating
    # `sharded` would re-run the whole upstream (encode + cogroup) a second
    # time; reading back prunes to the narrow stat columns and doubles as a
    # write validation. Schema supplied so an EMPTY write (zero sequences →
    # only _SUCCESS, no data files) yields an empty manifest instead of
    # UNABLE_TO_INFER_SCHEMA.
    spark = seqs.sparkSession
    manifest = (
        spark.read.schema(sharded.schema).parquet(path)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_docs").alias("n_docs"),
            F.sum(F.col("truncated").cast("long")).alias("n_truncated"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "/_manifest")


def read_training_shards(spark, path: str, schema=None) -> DataFrame:
    """Read back a write_training_shards directory (shard restored as a
    partition column). Pass `schema` to read a possibly-EMPTY output
    (zero sequences write no data files, so schema inference fails)."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


def read_shard_manifest(spark, path: str) -> DataFrame:
    return spark.read.parquet(path + "/_manifest")
