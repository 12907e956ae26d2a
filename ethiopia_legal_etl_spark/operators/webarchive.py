"""WARC-archive ingestion operators: parse Common-Crawl-shaped
.warc.gz payloads (sources/warc.py) inside Arrow-batched mapInPandas
stages — the archive-scale generalization of the reference's one-page
HTTP fetch (fetch_legal_docs.py downloads single documents; a 100 TB
harvest arrives as WARC files whose records must be split, parsed,
and routed per-record).

Scale shape: a .warc.gz made of per-record gzip MEMBERS (the Common
Crawl convention, preserved by our writer) is record-parallel — any
task can inflate from any member boundary with no upstream bytes, the
same self-containment property the engine leans on for IMA audio
blocks and MJPEG frames. The pipeline below is one parallelism
shuffle (doc_id repartition) then synth -> parse mapInPandas, with
per-record error isolation (A-19 semantics: malformed archives route
to an error column, never kill the job).
"""

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.multimodal import _media_doc_ids
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


def synth_warc_archive(d: int) -> bytes:
    """The per-doc .warc.gz (module-level so the axis-9 fuzz covers
    exactly this byte layout; the oracle re-derives its aggregates
    from the same formulas)."""
    from ethiopia_legal_etl_spark.sources.warc import write_warc

    recs = [
        {
            "type": "response",
            "uri": f"http://site{d % 10}.example/{i}",
            "date": "2026-01-01T00:00:00Z",
            "payload": bytes(
                (d * 7 + j) % 256 for j in range(20 + (d + i) % 30)
            ),
            "record_id": f"{d}-{i}",
        }
        for i in range(2 + d % 4)
    ]
    return write_warc(recs, compress=True)



@register(
    "warc_ingest_extract",
    oracle="""
    SELECT d.doc_id,
           2 + d.doc_id % 4 AS n_records,
           'http://site' || (d.doc_id % 10) || '.example/0' AS first_uri,
           COUNT(*) AS total_payload_bytes,
           CAST(SUM((d.doc_id * 7 + tj.j) % 256) AS BIGINT)
             AS payload_byte_sum
    FROM documents d
    JOIN (SELECT unnest(range(6)) AS i) ti ON ti.i < 2 + d.doc_id % 4
    JOIN (SELECT unnest(range(50)) AS j) tj
      ON tj.j < 20 + (d.doc_id + ti.i) % 30
    GROUP BY d.doc_id
    """,
    doc="REAL WARC (ISO 28500) archive ingestion, the Common Crawl "
    "container format: each doc synthesizes a genuine .warc.gz "
    "executor-side — WARC/1.0 response records with formula-derived "
    "URIs and payloads, one gzip MEMBER per record (the splittable "
    "layout; member-boundary independence pinned in "
    "tests/test_warc.py) — then parses it back and aggregates "
    "per-archive record counts, payload sizes, and the full payload "
    "byte sum, all of which the DuckDB oracle recomputes from the "
    "formulas (total bytes = COUNT over the (record, offset) grid; "
    "byte sum = SUM of the byte formula) — a value-exact check over "
    "every payload byte in every record. Malformed archives raise "
    "ValueError in sources/warc.py; the pipeline-level error-isolation "
    "variant is the sibling entry warc_ingest_rejects.",
)
def warc_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )
    from ethiopia_legal_etl_spark.sources.warc import parse_warc

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts —
    # THIS is the entry that models archives at rest (the bytes cross
    # the Arrow boundary between stages); warc_to_text_pipeline's
    # merged synth+parse closure has no store boundary to cut at and
    # deliberately stays untouched (its docstring explains the merge)
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            archives = [
                maybe_truncate(synth_warc_archive(d), d, frac) for d in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "warc": archives})

    media = docs.mapInPandas(synth, schema="doc_id long, warc binary")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, warc in zip(pdf["doc_id"], pdf["warc"]):

                def one(doc_id=doc_id, warc=warc) -> tuple:
                    recs = parse_warc(bytes(warc))
                    # a cut at a gzip MEMBER boundary parses cleanly
                    # as a PREFIX of the records (and a cut at ~0 as
                    # an empty archive, which recs[0] would turn into
                    # an IndexError past the ValueError-only
                    # isolation) — silently-reduced counts are the
                    # exact silently-wrong-metadata class axis 9
                    # exists to kill, so the record count is checked
                    # against the manifest (here: the synthesis
                    # formula; in production: the crawl manifest /
                    # WARC-Segment headers). Caught in a
                    # self-review before any SF happened to land a
                    # cut on a boundary.
                    if len(recs) != 2 + int(doc_id) % 4:
                        raise ValueError(
                            f"archive record count {len(recs)} != manifest"
                        )
                    return (
                        len(recs),
                        recs[0]["uri"],
                        sum(len(r["payload"]) for r in recs),
                        sum(sum(r["payload"]) for r in recs),
                    )

                # truncated archive (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 4, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_records", "first_uri",
                    "total_payload_bytes", "payload_byte_sum",
                ],
            )

    return media.mapInPandas(
        extract,
        schema=(
            "doc_id long, n_records long, first_uri string, "
            "total_payload_bytes long, payload_byte_sum long"
        ),
    )


@register(
    "warc_ingest_rejects",
    oracle="""
    SELECT d.doc_id,
           d.doc_id % 7 <> 0 AS ok,
           CASE WHEN d.doc_id % 7 = 0 THEN 0
                ELSE 2 + d.doc_id % 4 END AS n_records,
           d.doc_id % 7 = 0 AS has_error
    FROM documents d
    """,
    doc="A-19 per-record error isolation at ARCHIVE granularity: the "
    "synth stage deterministically corrupts every 7th archive "
    "(truncated mid-record — the classic partial-upload failure a "
    "100 TB crawl bucket contains); the extract stage catches the "
    "parser's ValueError PER ROW and routes it to an error column "
    "instead of killing the job, exactly like the fetch/extract "
    "stages in operators/ingest.py. The oracle recomputes which "
    "doc_ids must be rejects and how many records the survivors "
    "carry — so the hash match proves corruption is DETECTED (never "
    "silently mis-parsed) and isolation is exact (no healthy "
    "neighbor lost). One parallelism shuffle, then mapInPandas.",
)
def warc_ingest_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.sources.warc import parse_warc

    docs = _media_doc_ids(spark, sf_dir)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            archives = []
            for d in ids:
                raw = synth_warc_archive(d)
                if d % 7 == 0:
                    raw = raw[: len(raw) - 15]  # truncate mid-member
                archives.append(raw)
            yield pd.DataFrame({"doc_id": ids, "warc": archives})

    media = docs.mapInPandas(synth, schema="doc_id long, warc binary")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, warc in zip(pdf["doc_id"], pdf["warc"]):
                try:
                    recs = parse_warc(bytes(warc))
                    rows.append((doc_id, True, len(recs), None))
                except ValueError as exc:
                    rows.append((doc_id, False, 0, str(exc)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "ok", "n_records", "error"]
            )

    parsed = media.mapInPandas(
        extract,
        schema="doc_id long, ok boolean, n_records long, error string",
    )
    return parsed.select(
        "doc_id", "ok", "n_records", F.col("error").isNotNull().alias("has_error")
    )


@register(
    "warc_to_text_pipeline",
    oracle="""
    WITH recs AS (
      SELECT d.doc_id,
             '<html><head><style>.a{color:red}</style></head><body>'
             || '<script>var x=' || t.i || ';</script><h1>Page ' || t.i
             -- COALESCE mirrors the builder: NULL text renders as an
             -- empty page body (text-null mirror)
             || '</h1><p>' || COALESCE(d.text, '') || ' &amp; more</p></body></html>'
               AS html
      FROM documents d
      JOIN (SELECT unnest(range(5)) AS i) t ON t.i < 2 + d.doc_id % 3
    ),
    stripped AS (
      SELECT doc_id,
             TRIM(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gs'),
                     '<style[^>]*>.*?</style>', ' ', 'gs'),
                   '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '[ \t\r\n\f]+', ' ', 'g')) AS main_text
      FROM recs
    )
    SELECT doc_id,
           COUNT(*) AS n_records,
           CAST(SUM(LENGTH(main_text)) AS BIGINT) AS total_len,
           CAST(SUM(CASE WHEN main_text = '' THEN 0
                    ELSE LENGTH(main_text)
                         - LENGTH(replace(main_text, ' ', '')) + 1 END)
             AS BIGINT) AS total_tokens
    FROM stripped
    GROUP BY doc_id
    """,
    doc="The composed WEB-ARCHIVE-TO-TRAINING-TEXT pipeline — the "
    "Common Crawl WARC->WET flow end-to-end in one plan: synthesize a "
    "genuine per-record-gzipped WARC whose response payloads are HTML "
    "pages embedding the document text (real container, real "
    "compression), parse it back and EXPLODE to one row per record "
    "in a single Arrow mapInPandas stage (the transient archive "
    "bytes never cross the JVM boundary — measured ~40% faster than "
    "materializing the binary column between two stages; the "
    "file-based read path stays covered by warc_ingest_extract), "
    "strip markup with the shared "
    "functions/text.strip_html JVM expression chain (identical "
    "semantics to html_main_text — zero Python in the text stage), "
    "and aggregate per-document record counts, text lengths, and "
    "token counts. The DuckDB oracle rebuilds the same HTML from "
    "documents.text, runs the identical strip chain, and re-derives "
    "every aggregate — value-exact through container -> gzip -> "
    "parse -> strip -> aggregate. Two shuffles: the parallelism "
    "repartition and the final per-doc aggregation (map-side "
    "partials).",
)
def warc_to_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.functions.text import strip_html
    from ethiopia_legal_etl_spark.sources.warc import parse_warc, write_warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE mapInPandas stage: build the per-record-gzipped archive
        # and immediately re-parse it in the same Python worker, so the
        # compressed container bytes never cross the Arrow boundary.
        # (Measured: two stages with a transient binary column cost
        # ~0.9 s steady-state at sf0.1 vs ~0.57 s merged — the archive
        # crossed JVM<->Python twice for no reason. The FILE-based WARC
        # read path, where archives genuinely arrive as bytes, stays
        # separately exercised by warc_ingest_extract and the
        # sources/warc.py DataSource.)
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                # a NULL text (failed extraction) renders as an EMPTY
                # page body — an f-string would otherwise embed the
                # literal "None" (text-null mirror)
                if not isinstance(text, str):
                    text = ""
                recs = [
                    {
                        "type": "response",
                        "uri": f"http://site{d % 10}.example/{i}",
                        "date": "2026-01-01T00:00:00Z",
                        "payload": (
                            "<html><head><style>.a{color:red}</style>"
                            f"</head><body><script>var x={i};</script>"
                            f"<h1>Page {i}</h1><p>{text} &amp; more</p>"
                            "</body></html>"
                        ).encode("utf-8"),
                        "record_id": f"{d}-{i}",
                    }
                    for i in range(2 + d % 3)
                ]
                warc = write_warc(recs, compress=True)
                for rec in parse_warc(warc):
                    rows.append((d, rec["payload"].decode("utf-8")))
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    pages = docs.mapInPandas(
        synth_parse, schema="doc_id long, html string"
    )
    stripped = pages.select(
        "doc_id", strip_html(F.col("html")).alias("main_text")
    )
    tokens = F.when(F.col("main_text") == "", F.lit(0)).otherwise(
        F.length("main_text")
        - F.length(F.replace(F.col("main_text"), F.lit(" "), F.lit("")))
        + 1
    )
    return stripped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.length("main_text")).alias("total_len"),
        F.sum(tokens).alias("total_tokens"),
    )


@register(
    "robots_crawl_gate",
    oracle="""
    SELECT doc_id,
           doc_id % 4 AS policy,
           CASE doc_id % 5
             WHEN 0 THEN '/index.html'
             WHEN 1 THEN '/private/x.html'
             WHEN 2 THEN '/private/open.html'
             WHEN 3 THEN '/docs/file.pdf'
             ELSE '/data/set1' END AS path,
           NOT ((doc_id % 4 = 1 AND doc_id % 5 = 1)
                OR (doc_id % 4 = 2 AND doc_id % 5 = 3)
                OR (doc_id % 4 = 3 AND doc_id % 5 = 4)) AS allowed
    FROM documents
    """,
    doc="RFC 9309 robots.txt crawl-permission gate "
    "(functions/robots.py: user-agent groups incl. shared groups, "
    "allow/disallow with '*' and trailing-'$' metacharacters, "
    "longest-match precedence with allow winning ties, empty "
    "disallow, '*' fallback group — an iterative matcher, no regex, "
    "so hostile patterns cannot blow up the executor). Each doc "
    "synthesizes one of four robots policies (allow-all; "
    "path-prefix disallow with a longer allow carve-out; wildcard "
    "extension disallow /*.pdf$; agent-specific group) and one of "
    "five URL paths, evaluates the gate for agent 'trainbot', and "
    "the oracle re-derives the allowed bit from the hand-written "
    "truth table of the policy x path grid — so every RFC precedence "
    "rule the grid exercises (longest-match override, $ anchoring, "
    "group selection) is value-checked on every row. Complements "
    "polite_fetch_stage (A-7): that throttles HOW we fetch, this "
    "gates WHETHER we may. One parallelism shuffle, then mapInPandas.",
)
def robots_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.robots import (
        parse_robots,
        robots_allowed,
    )

    POLICIES = [
        "User-agent: *\nDisallow:",
        "User-agent: *\nDisallow: /private/\nAllow: /private/open.html",
        "User-agent: *\nDisallow: /*.pdf$",
        "User-agent: trainbot\nDisallow: /data/\n\nUser-agent: *\nDisallow:",
    ]
    PATHS = [
        "/index.html", "/private/x.html", "/private/open.html",
        "/docs/file.pdf", "/data/set1",
    ]

    docs = _media_doc_ids(spark, sf_dir)

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                policy, path = int(d) % 4, PATHS[int(d) % 5]
                groups = parse_robots(POLICIES[policy])
                rows.append(
                    (d, policy, path,
                     robots_allowed(groups, "trainbot", path))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "policy", "path", "allowed"]
            )

    return docs.mapInPandas(
        gate,
        schema="doc_id long, policy long, path string, allowed boolean",
    )


@register(
    "url_canonical_dedup",
    oracle="""
    SELECT doc_id,
           doc_id % 4 AS variant,
           'http://site' || (doc_id % 10) || '.example/docs/file'
             || (doc_id % 50) || '.html' AS canon_url
    FROM documents
    """,
    doc="RFC 3986 section-6 URL canonicalization, the URL-level dedup "
    "prep step (RefinedWeb dedups on canonical URLs before touching "
    "content): functions/text.canonicalize_url lowercases "
    "scheme+host, strips default ports, removes dot segments "
    "(the spec's 5.2.4 algorithm), normalizes percent-escapes "
    "(decode unreserved, uppercase the rest), drops fragments. Each "
    "doc synthesizes ONE of four obfuscated variants of the same "
    "target URL — uppercase host + explicit :80 + fragment; "
    "dot-segment detour /docs/../docs/./; percent-encoded unreserved "
    "octet %66 -> f; or the plain form — and the oracle asserts all "
    "four families collapse to the EXACT same canonical string, "
    "recomputed from the doc_id formulas. General-input behavior "
    "(idempotence, non-default ports, userinfo, reserved escapes "
    "kept) is pinned in tests/test_functions_text.py. "
    "Arrow-vectorized pandas UDF; one parallelism shuffle.",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.text import canonicalize_url

    docs = _media_doc_ids(spark, sf_dir)

    def canon(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                k, j, v = int(d) % 10, int(d) % 50, int(d) % 4
                if v == 0:
                    url = f"http://site{k}.example/docs/file{j}.html"
                elif v == 1:
                    url = f"HTTP://SITE{k}.EXAMPLE:80/docs/file{j}.html#frag"
                elif v == 2:
                    url = f"http://site{k}.example/docs/../docs/./file{j}.html"
                else:
                    url = f"http://site{k}.example/docs/%66ile{j}.html"
                rows.append((d, v, canonicalize_url(url)))
            yield pd.DataFrame(rows, columns=["doc_id", "variant", "canon_url"])

    return docs.mapInPandas(
        canon, schema="doc_id long, variant long, canon_url string"
    )


@register(
    "sitemap_url_extract",
    oracle="""
    SELECT d.doc_id,
           t.i AS pos,
           'http://site' || (d.doc_id % 10) || '.example/page'
             || ((d.doc_id + t.i) % 40) AS loc,
           '2026-0' || (1 + (d.doc_id + t.i) % 9) || '-01' AS lastmod
    FROM documents d
    JOIN (SELECT unnest(range(4)) AS i) t ON t.i < 2 + d.doc_id % 3
    """,
    doc="sitemaps.org XML sitemap parsing — the crawl-DISCOVERY "
    "counterpart to robots_crawl_gate (that gates whether we may "
    "fetch; this enumerates what the host advertises): each doc "
    "synthesizes a genuine urlset document with per-url loc/lastmod "
    "elements, then extracts them with the same pure-JVM "
    "regexp_extract_all + arrays_zip + posexplode shape as "
    "html_link_extraction (A-2) — zero Python, shuffle-free, "
    "whole-stage codegen. The oracle rebuilds every (position, loc, "
    "lastmod) row from the doc_id formulas — value-exact, including "
    "element ORDER via the position column, which posexplode "
    "preserves from document order.",
)
def sitemap_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url_block = F.concat(
        F.lit("<url><loc>http://site"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example/page"),
    )
    # build the urlset with 2 + doc_id % 3 <url> entries
    xml = F.concat(
        F.lit(
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        ),
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), (F.lit(1) + F.col("doc_id") % 3)),
                lambda i: F.concat(
                    url_block,
                    ((F.col("doc_id") + i) % 40).cast("string"),
                    F.lit("</loc><lastmod>2026-0"),
                    (F.lit(1) + (F.col("doc_id") + i) % 9).cast("string"),
                    F.lit("-01</lastmod></url>"),
                ),
            ),
        ),
        F.lit("</urlset>"),
    )
    pages = docs.select("doc_id", xml.alias("xml"))
    parsed = pages.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.regexp_extract_all("xml", F.lit(r"<loc>([^<]*)</loc>"), 1).alias(
                    "loc"
                ),
                F.regexp_extract_all(
                    "xml", F.lit(r"<lastmod>([^<]*)</lastmod>"), 1
                ).alias("lastmod"),
            )
        ).alias("pos", "entry"),
    )
    return parsed.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("entry.loc").alias("loc"),
        F.col("entry.lastmod").alias("lastmod"),
    )


@register(
    "host_rank_fixed_point",
    oracle="""
    WITH links AS (
      SELECT DISTINCT d.doc_id % 50 AS src,
             (d.doc_id % 50 * 7 + t.i * 13 + 1) % 50 AS dst
      FROM documents d
      JOIN (SELECT unnest(range(3)) AS i) t ON t.i < 1 + d.doc_id % 3
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM links GROUP BY src),
    hosts AS (SELECT DISTINCT src AS host FROM links),
    n AS (SELECT COUNT(*) AS n FROM hosts),
    r0 AS (SELECT host, CAST(1000000 // n AS BIGINT) AS rank
           FROM hosts CROSS JOIN n),
    r1 AS (
      SELECT h.host,
             (150000 // n.n)
             + (85 * COALESCE(SUM(r.rank // g.outdeg), 0)) // 100 AS rank
      FROM hosts h CROSS JOIN n
      LEFT JOIN links l ON l.dst = h.host
      LEFT JOIN r0 r ON r.host = l.src
      LEFT JOIN deg g ON g.src = l.src
      GROUP BY h.host, n.n
    ),
    r2 AS (
      SELECT h.host,
             (150000 // n.n)
             + (85 * COALESCE(SUM(r.rank // g.outdeg), 0)) // 100 AS rank
      FROM hosts h CROSS JOIN n
      LEFT JOIN links l ON l.dst = h.host
      LEFT JOIN r1 r ON r.host = l.src
      LEFT JOIN deg g ON g.src = l.src
      GROUP BY h.host, n.n
    ),
    r3 AS (
      SELECT h.host,
             (150000 // n.n)
             + (85 * COALESCE(SUM(r.rank // g.outdeg), 0)) // 100 AS rank
      FROM hosts h CROSS JOIN n
      LEFT JOIN links l ON l.dst = h.host
      LEFT JOIN r2 r ON r.host = l.src
      LEFT JOIN deg g ON g.src = l.src
      GROUP BY h.host, n.n
    )
    SELECT host, CAST(rank AS BIGINT) AS rank_microunits
    FROM r3
    """,
    doc="host-graph CENTRALITY for corpus quality weighting (the role "
    "harmonic centrality / PageRank plays in Common Crawl seed "
    "selection and CCNet-era source weighting): 3 power-iteration "
    "steps of PageRank (d=0.85) over the host link graph, in "
    "FIXED-POINT INTEGER arithmetic — ranks are BIGINT micro-units "
    "(1e6 = total mass), per-edge contribution rank//outdeg, damping "
    "(85*sum)//100 — so every step is exact integer math, "
    "order-independent and bit-identical in any engine; the standard "
    "float formulation would accumulate summation-order ulps across "
    "iterations and could not be hash-compared cross-engine. "
    "Quantization truncates ≤1 micro-unit per edge per step "
    "(leaked mass, NOT redistributed — stated, deterministic). "
    "Scale: each iteration is one edges⋈ranks broadcast join (rank "
    "table = |hosts| rows, always the small side) + one groupBy dst "
    "shuffle; iterations unroll into ONE plan (no driver-side "
    "collect), and at web scale the rank table shuffles instead of "
    "broadcasting — same plan shape, hash join. The edge list here "
    "derives from the doc_id formulas so the oracle can rebuild the "
    "identical graph; the real-HTML edge extraction path is "
    "html_link_extraction.",
)
def host_rank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("src"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
        ).alias("i"),
        "doc_id",
    )
    # Materialize the host-bounded link table ONCE (as
    # connected_components does with its edges): deg,
    # hosts, and every unrolled iteration's contrib join reference
    # `links`, so without this checkpoint the docs scan + explode +
    # distinct subtree was evaluated ~5x inside one plan. The table is
    # <= 50 * 50 rows by construction — tiny at any corpus
    # size (the corpus scan, not the link table, is the scale cost).
    links = docs.select(
        "src",
        ((F.col("src") * 7 + F.col("i") * 13 + 1) % 50).alias("dst"),
    ).distinct().localCheckpoint()
    deg = links.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    hosts = links.select(F.col("src").alias("host")).distinct()
    n = hosts.count()  # bounded: |hosts| <= 50 by construction
    if n == 0:  # empty corpus -> empty rank table (no 1/n mass to split)
        return spark.createDataFrame([], "host bigint, rank_microunits bigint")
    ranks = hosts.select("host", F.lit(1_000_000 // n).alias("rank"))
    base = 150_000 // n
    for _ in range(3):
        contrib = (
            links.join(F.broadcast(ranks), links.src == ranks.host)
            .join(F.broadcast(deg), "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("rank div outdeg").alias("c"),
            )
        )
        ranks = (
            hosts.join(
                contrib.groupBy("host").agg(F.sum("c").alias("s")),
                "host",
                "left",
            )
            .select(
                "host",
                (
                    F.lit(base)
                    + F.expr(f"85 * coalesce(s, 0L) div 100")
                ).alias("rank"),
            )
        )
    return ranks.select("host", F.col("rank").cast("long").alias("rank_microunits"))


# ---------------------------------------------------------------------
# Crawl-frontier Bloom gate
# ---------------------------------------------------------------------


def bloom_probe_frontier(
    urls: DataFrame, m: int = 1 << 16, k: int = 5
) -> DataFrame:
    """From-scratch distributed Bloom filter over the `prior` URL set,
    probed by every URL — the crawl-frontier seen-set primitive
    (Bloom, CACM 1970): an 8 KB-scale bit set stands in for the
    full history so the frontier can drop already-crawled URLs
    without joining against 100 TB of crawl logs.

    `urls` must have columns (url string, prior boolean). Returns the
    input plus `flagged_seen` (Bloom says possibly-seen).

    Plan shape — deliberately ZERO corpus shuffles and zero UDFs:
    - build: set bit positions are JVM expressions
      pmod(xxhash64(i, url), m) for i < k (Kirsch-Mitzenmacher-style
      independent seeds via the hash's seed slot); explode + distinct
      over the PRIOR side only yields a <= m-row set-bits table
      (bounded by the filter size, never by history).
    - probe: k sequential BROADCAST left joins of the bit table
      against each URL's k positions; flagged = all k hit. Broadcast
      hash joins on a <= m-row build side are map-side — the corpus
      never shuffles.
    Guarantee (property-tested): no false negatives — every truly
    prior URL is flagged; false-positive rate is bounded by the
    standard (1 - e^(-kn/m))^k envelope."""
    if m < 8 or k < 1:
        raise ValueError("degenerate bloom parameters")
    positions = [
        F.pmod(F.xxhash64(F.lit(i), F.col("url")), F.lit(m)) for i in range(k)
    ]
    # localCheckpoint, not persist (cache-scoping sweep): the
    # <= m-row bit table (KBs) is the build side of all k broadcast
    # joins — without materialization each join re-runs the distinct
    # shuffle (measured: 6 exchanges -> 2). Checkpointed blocks never
    # plan-match, so nothing outlives the query in a repeated-run
    # harness (the unigram finding).
    bits = (
        urls.where(F.col("prior"))
        .select(F.explode(F.array(*positions)).alias("bit"))
        .distinct()
        .localCheckpoint()
    )
    probed = urls
    for i in range(k):
        probed = probed.withColumn(f"_p{i}", positions[i]).join(
            F.broadcast(
                bits.select(
                    F.col("bit").alias(f"_p{i}"),
                    F.lit(1).alias(f"_hit{i}"),
                )
            ),
            f"_p{i}",
            "left",
        )
    flagged = F.lit(True)
    for i in range(k):
        flagged = flagged & (F.coalesce(F.col(f"_hit{i}"), F.lit(0)) == 1)
    return probed.withColumn("flagged_seen", flagged).drop(
        *[c for i in range(k) for c in (f"_p{i}", f"_hit{i}")]
    )


@register(
    "frontier_bloom_seen",
    oracle=None,  # xxhash64 bit positions are engine-specific (DuckDB
    # has no XXH64) -> rows-only; ground truth is the no-false-negative
    # guarantee, the FPR envelope, and exact-anti-join accounting in
    # tests/test_warc.py
    doc="crawl-frontier Bloom seen-set gate: build an m=2^16-bit "
    "filter over the prior crawl's URLs with k=5 xxhash64 positions "
    "(pure JVM expressions), probe every candidate via k broadcast "
    "joins of the <= m-row set-bits table — zero corpus shuffles, "
    "zero UDFs. Single-row accounting proves the contract: "
    "n_false_negatives is structurally 0 (a Bloom filter never "
    "forgets), false positives are counted against the exact "
    "anti-join truth the filter replaces at scale."
    " Rows-only verdict: NOT convertible — DuckDB has no XXH64 "
    "and re-deriving k=5 xxhash64 positions over variable-length URLs "
    "would need a per-byte recursive loop (unlike SimHash's FNV fold "
    "over a bounded token list); swapping the production hash to "
    "enable an oracle would trade the right 100 TB hash for "
    "testability. Ground truth: structural zero-false-negative proof, "
    "FPR envelope, exact-anti-join accounting (tests/test_warc.py).",
)
def frontier_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        F.concat(
            F.lit("https://fsc.example.et/files/doc"),
            F.col("doc_id").cast("string"),
            F.lit(".pdf"),
        ).alias("url"),
        (F.col("doc_id") % 2 == 0).alias("prior"),
    )
    probed = bloom_probe_frontier(urls)
    return probed.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.col("prior").cast("long")).alias("n_prior"),
        F.sum(F.col("flagged_seen").cast("long")).alias("n_flagged_seen"),
        F.sum((F.col("prior") & ~F.col("flagged_seen")).cast("long")).alias(
            "n_false_negatives"
        ),
        F.sum((~F.col("prior") & F.col("flagged_seen")).cast("long")).alias(
            "n_false_positives"
        ),
        F.sum((~F.col("flagged_seen")).cast("long")).alias("n_passed"),
    )


@register(
    "anchor_text_profile",
    oracle="""
    WITH anchors AS (
      SELECT 'h' || ((d.doc_id + t.i * 3) % 7) AS dst_host,
             'term' || ((d.doc_id + t.i) % 11) || ' page' AS anchor
      FROM documents d
      JOIN (SELECT unnest(range(3)) AS i) t ON t.i < 2 + d.doc_id % 2
    )
    SELECT dst_host,
           COUNT(*) AS n_links,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_distinct_anchors,
           MIN(anchor) AS first_anchor,
           MAX(anchor) AS last_anchor
    FROM anchors
    GROUP BY dst_host
    """,
    doc="anchor-text aggregation over the synthetic link graph — the "
    "web-graph signal an anchor-text corpus distills (what OTHER "
    "pages call a destination is a quality/description signal the "
    "destination can't control; cf. the anchor-text pretraining "
    "datasets built from Common Crawl link graphs). Each doc "
    "synthesizes genuine <a href>...</a> markup, pairs are extracted "
    "with the pure-JVM regexp_extract_all + arrays_zip + posexplode "
    "shape (A-2 family, zero Python), the destination HOST is parsed "
    "from the href, and the per-host profile aggregates link count, "
    "anchor diversity, and the lexicographic anchor extremes "
    "(deterministic, unlike a mode pick). One shuffle on the "
    "bounded host key; the oracle rebuilds every pair from the "
    "doc_id formulas, value-exact.",
)
def anchor_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    html = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(1) + F.col("doc_id") % 2),
            lambda i: F.concat(
                F.lit('<a href="https://h'),
                ((F.col("doc_id") + i * 3) % 7).cast("string"),
                F.lit('.example.et/p'),
                ((F.col("doc_id") + i) % 40).cast("string"),
                F.lit('">term'),
                ((F.col("doc_id") + i) % 11).cast("string"),
                F.lit(" page</a>"),
            ),
        ),
    )
    pages = docs.select("doc_id", html.alias("html"))
    pairs = pages.select(
        F.posexplode(
            F.arrays_zip(
                F.regexp_extract_all(
                    "html", F.lit(r'href="([^"]*)"'), 1
                ).alias("href"),
                F.regexp_extract_all(
                    "html", F.lit(r">([^<]*)</a>"), 1
                ).alias("anchor"),
            )
        ).alias("pos", "entry"),
    ).select(
        F.regexp_extract(F.col("entry.href"), r"https://([^.]+)\.", 1).alias(
            "dst_host"
        ),
        F.col("entry.anchor").alias("anchor"),
    )
    return pairs.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct("anchor").alias("n_distinct_anchors"),
        F.min("anchor").alias("first_anchor"),
        F.max("anchor").alias("last_anchor"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH links AS (
      SELECT DISTINCT d.doc_id % 50 AS src,
             (d.doc_id % 50 * 7 + t.i * 13 + 1) % 50 AS dst
      FROM documents d
      JOIN (SELECT unnest(range(3)) AS i) t ON t.i < 1 + d.doc_id % 3
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM links WHERE src != dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_host AS (
      SELECT h, COUNT(*) AS c
      FROM (SELECT unnest([x, y, z]) AS h FROM tri) GROUP BY h
    ),
    deg AS (
      SELECT h, COUNT(*) AS degree
      FROM (SELECT a AS h FROM und UNION ALL SELECT b AS h FROM und)
      GROUP BY h
    )
    SELECT CAST(deg.h AS BIGINT) AS host,
           CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(per_host.c, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN CAST(2 * COALESCE(per_host.c, 0) AS DOUBLE)
                     / (deg.degree * (deg.degree - 1))
                ELSE CAST(0 AS DOUBLE) END AS clustering
    FROM deg LEFT JOIN per_host ON per_host.h = deg.h
    """,
    doc="per-host triangle count + local clustering coefficient over "
    "the host link graph (the spam-vs-community structural signal in "
    "web-graph curation — link farms show near-clique clustering; "
    "TrustRank-era features). Compact-forward enumeration (Latapy "
    "2008 / Suri & Vassilvitskii WWW'11 MR2 shape): edges "
    "canonicalized a<b, so the e1(a,b)⋈e2(b,c) path join enumerates "
    "each triangle exactly once as a<b<c, verified by the closing "
    "e3(a,c) edge join — never the 6x-duplicating undirected wedge "
    "join. At 100 TB: the path join shuffles on the shared endpoint, "
    "so its fanout is bounded by per-node ORIENTED out-degree — "
    "orienting edges by (degree, id) instead of bare id caps that at "
    "O(sqrt(m)) for skewed graphs (same plan, different orientation "
    "key); clustering = one IEEE division of exact integer counts "
    "(raw-double identical cross-engine, no rounding needed). Graph "
    "derives from the doc_id formulas so the oracle rebuilds it "
    "identically (host_rank_fixed_point convention).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    links = docs.select(
        (F.col("doc_id") % 50).alias("src"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
        ).alias("i"),
    ).select(
        "src", ((F.col("src") * 7 + F.col("i") * 13 + 1) % 50).alias("dst")
    )
    und = (
        links.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        # localCheckpoint, not cache (cache-scoping sweep): no
        # plan-matched CacheManager entry may outlive the query run
        .localCheckpoint()  # host-bounded edge list; feeds e1/e2/e3 + deg
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_host = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    deg = (
        und.select(F.col("a").alias("h"))
        .union(und.select(F.col("b").alias("h")))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(per_host, "h", "left").select(
        F.col("h").cast("long").alias("host"),
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("c", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (2 * F.coalesce("c", F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def _kcore_round_sql(i: int, k: int) -> str:
    prev = f"s{i - 1}"
    return f"""
    s{i} AS (
      SELECT e.a AS node FROM sym e
      JOIN {prev} x ON e.a = x.node
      JOIN {prev} y ON e.b = y.node
      GROUP BY e.a HAVING COUNT(*) >= {k}
    )"""


_KCORE_K = 4
_KCORE_ROUNDS = 6  # fixpoint on this graph at round 4: the pendant
                   # ladder (hosts 50-54) cascades one node per round
                   # into the core, then the 8 degree-weak quadratic
                   # nodes peel; 2 rounds of margin, asserted by the
                   # pytest peeler


@register(
    "graph_kcore_hosts",
    oracle=f"""
    WITH quad AS (
      SELECT DISTINCT d.doc_id % 50 AS src,
             ((d.doc_id % 50) * (d.doc_id % 50) + t.i * 13 + 1) % 50 AS dst
      FROM documents d
      JOIN (SELECT unnest(range(3)) AS i) t ON t.i < 1 + d.doc_id % 3
    ),
    ladder AS (
      SELECT 50 + i AS src, 51 + i AS dst
      FROM (SELECT unnest(range(4)) AS i)
      UNION ALL
      SELECT 50 + i, (2 * i) % 10 FROM (SELECT unnest(range(5)) AS i)
      UNION ALL
      SELECT 50 + i, (2 * i + 1) % 10 FROM (SELECT unnest(range(5)) AS i)
    ),
    links AS (
      SELECT src, dst FROM quad UNION SELECT src, dst FROM ladder
    ),
    sym AS (
      SELECT src AS a, dst AS b FROM links WHERE src <> dst
      UNION
      SELECT dst AS a, src AS b FROM links WHERE src <> dst
    ),
    s0 AS (SELECT DISTINCT a AS node FROM sym),
    {",".join(_kcore_round_sql(i, _KCORE_K) for i in range(1, _KCORE_ROUNDS + 1))}
    SELECT e.a AS host, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM sym e
    JOIN s{_KCORE_ROUNDS} x ON e.a = x.node
    JOIN s{_KCORE_ROUNDS} y ON e.b = y.node
    GROUP BY e.a
    """,
    doc=f"{_KCORE_K}-CORE decomposition of the undirected host graph "
    "(Seidman 1983 k-cores; the dense-subgraph / spam-cluster signal "
    "that complements PageRank's centrality and the triangle count's "
    "local clustering): iteratively peel nodes with degree < k until "
    "the remainder is the maximal subgraph where every node keeps "
    f">= {_KCORE_K} surviving neighbors. Both engines unroll the SAME "
    f"{_KCORE_ROUNDS} peeling rounds (degree recomputation per round "
    "is an aggregate, which DuckDB's recursive CTEs cannot express — "
    "so the oracle is the fixed unroll and a pytest peeler "
    "independently proves the fixpoint is reached by round "
    f"{_KCORE_ROUNDS - 1} on this graph, making the unroll EQUAL to "
    "true k-core, not an approximation). Pure integer set logic — "
    "bit-reproducible. Plan: each round is one self-join of the "
    "symmetric edge list with the survivor set + one aggregate; "
    "edges shuffle on the node key every round (same key -> "
    "co-partitioned reuse); at 100 TB rounds are O(diameter-ish) and "
    "each is a bounded join, the standard distributed peeling shape.",
)
def graph_kcore_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    quad = (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("doc_id") % 3)
            ).alias("i"),
        )
        .select(
            (F.col("doc_id") % 50).alias("src"),
            (
                ((F.col("doc_id") % 50) * (F.col("doc_id") % 50)
                 + F.col("i") * 13 + 1) % 50
            ).alias("dst"),
        )
        .distinct()
    )
    r4 = spark.range(4).select(F.col("id").alias("i"))
    r5 = spark.range(5).select(F.col("id").alias("i"))
    ladder = (
        r4.select((50 + F.col("i")).alias("src"), (51 + F.col("i")).alias("dst"))
        .union(r5.select((50 + F.col("i")).alias("src"),
                         ((2 * F.col("i")) % 10).alias("dst")))
        .union(r5.select((50 + F.col("i")).alias("src"),
                         ((2 * F.col("i") + 1) % 10).alias("dst")))
    )
    links = quad.union(ladder).distinct()
    und = links.where(F.col("src") != F.col("dst"))
    sym = (
        und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(und.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    # localCheckpoint: each round references `survivors` twice and
    # `sym` once — without truncation the lineage tree doubles per
    # round (2^rounds plan copies; measured 24 s at sf0.1 vs 2 s
    # truncated). Same discipline as dedup_cluster_jaccard. Cluster
    # posture (SCALING.md): reliable checkpoint() of the frontier
    # every few rounds at 1000 executors (localCheckpoint blocks die
    # with their executor).
    sym = sym.localCheckpoint()
    survivors = sym.select(F.col("a").alias("node")).distinct().localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        survivors = (
            sym.join(survivors.withColumnRenamed("node", "a"), "a")
            .join(
                survivors.select(F.col("node").alias("b")),
                "b",
            )
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select(F.col("a").alias("node"))
            .localCheckpoint()
        )
    return (
        sym.join(survivors.withColumnRenamed("node", "a"), "a")
        .join(survivors.select(F.col("node").alias("b")), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("a").alias("host"), "core_degree")
    )
