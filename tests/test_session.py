"""Session memory settings: Tungsten pages are a fixed 4 MB (not heap /
cores, 64 MB for an 8 GB heap on 4 cores), so a small aggregation task
holds one small page, and a record larger than a page still gets a page
of its own."""

from pyspark.sql import functions as F

MB = 2**20


def _stages(spark, tag: str) -> list:
    """StageData of every stage that ran for job group `tag`, read from the
    status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ids = set()
    for j in tracker.getJobIdsForGroup(tag):
        ids.update(tracker.getJobInfo(j).stageIds)
    gw = sc._gateway
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    stages = [seq.apply(i) for i in range(seq.size())]
    return [s for s in stages if s.stageId() in ids and s.numCompleteTasks() > 0]


def test_session_sets_page_size_and_codegen_cache(spark):
    assert spark.conf.get("spark.buffer.pageSize") == "4m"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_small_aggregate_holds_one_small_page(spark):
    sc = spark.sparkContext
    sc.setJobGroup("test_session_pages", "small groupBy")
    try:
        rows = (
            spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
        )
    finally:
        sc._jsc.clearJobGroup()
    assert sorted(r["count"] for r in rows) == [142] + [143] * 6
    final = [s for s in _stages(spark, "test_session_pages") if s.shuffleReadBytes() > 0]
    assert len(final) == 1
    # one 4 MB page plus a few KB (64.25 MB with heap-derived pages)
    assert 0 < final[0].peakExecutionMemory() <= 8 * MB, final[0].peakExecutionMemory()


def test_record_larger_than_a_page(spark):
    big = 6 * MB
    df = spark.createDataFrame(
        [(1, "x" * big), (1, "a"), (2, "b")], "k int, s string"
    )
    agg = {r["k"]: len(r["m"]) for r in df.groupBy("k").agg(F.max("s").alias("m")).collect()}
    assert agg == {1: big, 2: 1}
    ordered = [len(r["s"]) for r in df.orderBy(F.desc("s")).collect()]
    assert ordered == [big, 1, 1]
    dims = spark.createDataFrame([(1, "x" * big)], "k int, d string")
    joined = df.join(F.broadcast(dims), "k").select("s", "d").collect()
    assert sorted((len(r["s"]), len(r["d"])) for r in joined) == [(1, big), (big, big)]
