"""Spark 4 extension-point coverage: custom Python DataSource
(spark.read.format over a registered Python class) and Python UDTFs
(LATERAL table functions), both exercised end-to-end."""

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.sources.pydatasource import (
    LegalFeedDataSource,
    _fake_fetch,
)


def test_legalfeed_datasource_reads_all_partitions(spark):
    spark.dataSource.register(LegalFeedDataSource)
    df = (
        spark.read.format("legalfeed")
        .option("ndocs", 1000)
        .option("partitions", 8)
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<doc_index:bigint,url:string,resource_type:string,payload:string>"
    )
    assert df.count() == 1000
    # reads run as one task per declared split
    assert df.rdd.getNumPartitions() == 8
    # no dropped/duplicated indices across split boundaries
    agg = df.agg(
        F.countDistinct("doc_index").alias("d"),
        F.min("doc_index").alias("lo"),
        F.max("doc_index").alias("hi"),
    ).collect()[0]
    assert (agg["d"], agg["lo"], agg["hi"]) == (1000, 0, 999)
    # deterministic payloads: any row matches the generator
    row = df.where("doc_index = 123").collect()[0]
    assert tuple(row) == _fake_fetch(123)


def test_legalfeed_filter_and_projection_compose(spark):
    """The source composes with ordinary relational ops downstream."""
    spark.dataSource.register(LegalFeedDataSource)
    df = (
        spark.read.format("legalfeed")
        .option("ndocs", 300)
        .load()
        .where(F.col("resource_type") == "pdf")
        .groupBy("resource_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert df.collect()[0]["n"] == 100  # every 3rd doc is a pdf


def test_extract_links_udtf_lateral(spark):
    from ethiopia_legal_etl_spark.functions.udtfs import ExtractLinks

    spark.udtf.register("extract_links", ExtractLinks)
    spark.createDataFrame(
        [
            (1, '<a href="/a.pdf">x</a><a href="https://cdn.example.et/b.pdf">y</a>'
                '<a href="/skip.html">z</a>'),
            (2, None),
            (3, "<p>no links</p>"),
        ],
        "doc_id int, html string",
    ).createOrReplaceTempView("udtf_pages")
    rows = spark.sql(
        """
        SELECT p.doc_id, l.url, l.is_absolute
        FROM udtf_pages p, LATERAL extract_links(p.html, 'https://fsc.example.et') l
        ORDER BY p.doc_id, l.url
        """
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, "https://cdn.example.et/b.pdf", True),
        (1, "https://fsc.example.et/a.pdf", False),
    ]


def test_extract_links_udtf_agrees_with_sql_spelling(spark, sf_dir):
    """The UDTF and the pure-SQL html_link_extraction operator extract
    the same URL set from the same synthetic pages."""
    from ethiopia_legal_etl_spark.functions.udtfs import ExtractLinks
    from ethiopia_legal_etl_spark.operators.sql_surface import html_link_extraction
    from ethiopia_legal_etl_spark.sources.tables import load_table

    spark.udtf.register("extract_links", ExtractLinks)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><a href="/files/doc'),
            F.col("doc_id").cast("string"),
            F.lit('.pdf">d</a><a href="https://cdn.example.et/x'),
            F.col("doc_id").cast("string"),
            F.lit('.pdf">x</a><a href="/about.html">about</a></body></html>'),
        ).alias("html"),
    ).createOrReplaceTempView("udtf_synth_pages")
    udtf_urls = {
        (r["doc_id"], r["url"])
        for r in spark.sql(
            """
            SELECT p.doc_id, l.url
            FROM udtf_synth_pages p,
                 LATERAL extract_links(p.html, 'https://fsc.example.et') l
            """
        ).collect()
    }
    sql_urls = {
        (r["doc_id"], r["url"])
        for r in html_link_extraction(spark, sf_dir).collect()
    }
    assert udtf_urls == sql_urls


def test_legalfeed_stream_reader_drains_feed(spark, tmp_path):
    """readStream on the same Python DataSource: availableNow drains
    the feed in batchsize-increments through the checkpointed offset
    log, and the streamed rows equal the batch read exactly."""
    from ethiopia_legal_etl_spark.sources.pydatasource import LegalFeedDataSource

    try:
        spark.dataSource.register(LegalFeedDataSource)
    except Exception:
        pass  # already registered by another test

    sdf = (
        spark.readStream.format("legalfeed")
        .option("ndocs", 90)
        .option("batchsize", 40)
        .load()
    )
    # availableNow only covers the offset prefetched at start for
    # simple stream readers -> run microbatches until the feed drains
    q = (
        sdf.writeStream.format("memory")
        .queryName("feed_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) AS n FROM feed_stream").first()["n"] >= 90:
            break
        time.sleep(1)
    q.stop()
    streamed = {
        tuple(r)
        for r in spark.sql("SELECT * FROM feed_stream").collect()
    }
    batch = {
        tuple(r)
        for r in spark.read.format("legalfeed").option("ndocs", 90).load().collect()
    }
    assert streamed == batch
    assert len(streamed) == 90
