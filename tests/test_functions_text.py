"""Unit tests for the Layer-A scalar functions — each §2.C correctness
trap from SURVEY.md gets an explicit case (fixture rows mirror
FIXTURES.md §2.1/§2.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.text import (
    absolutize_url,
    base_name_from_url,
    extract_year,
    is_pdf_content_type,
    resource_type,
    title_from_base_name,
)


def one(spark, value: str | None, fn):
    df = spark.createDataFrame([(value,)], "v: string")
    return df.select(fn(F.col("v")).alias("out")).collect()[0]["out"]


class TestYearExtraction:
    """§2.C-1/2: range 1950-2099, first-1000-chars, first match, '' sentinel
    (fetch_legal_docs.py:21-30)."""

    def test_in_range_year(self, spark):
        assert one(spark, "የሰበር ውሳኔ 2015 ዓ.ም", extract_year) == "2015"

    def test_no_year_gives_empty_string_not_null(self, spark):
        assert one(spark, "no four-digit year here", extract_year) == ""

    def test_1949_below_range(self, spark):
        assert one(spark, "1949 precedes range", extract_year) == ""

    def test_1950_lower_bound(self, spark):
        assert one(spark, "year 1950 ok", extract_year) == "1950"

    def test_2099_upper_bound(self, spark):
        assert one(spark, "year 2099 ok", extract_year) == "2099"

    def test_2100_above_range(self, spark):
        assert one(spark, "year 2100 not ok", extract_year) == ""

    def test_beyond_1000_chars_not_found(self, spark):
        text = "x" * 1001 + " 1999"
        assert one(spark, text, extract_year) == ""

    def test_within_1000_chars_found(self, spark):
        text = "x" * 990 + " 1999"
        assert one(spark, text, extract_year) == "1999"

    def test_first_match_wins(self, spark):
        assert one(spark, "1987 then 2003", extract_year) == "1987"

    def test_word_boundary_required(self, spark):
        assert one(spark, "id=19871 not a year", extract_year) == ""


class TestFilenameDerivation:
    """§2.C-4: basename → splitext → %20→_ ordering
    (fetch_legal_docs.py:35-38)."""

    def test_basename_and_splitext(self, spark):
        url = "https://x.example/files/vol01.pdf"
        assert one(spark, url, base_name_from_url) == "vol01"

    def test_percent20_replaced_after_splitext(self, spark):
        url = "https://x.example/files/vol%2002.pdf"
        assert one(spark, url, base_name_from_url) == "vol_02"

    def test_query_string_dropped(self, spark):
        url = "https://x.example/files/vol03.pdf?download=1"
        assert one(spark, url, base_name_from_url) == "vol03"

    def test_title_underscores_to_spaces(self, spark):
        assert one(spark, "vol_02", title_from_base_name) == "vol 02"

    def test_two_step_order_matters(self, spark):
        # %20 → _ first (base name), then _ → ' ' (title): the composed
        # result turns an encoded space into a real one
        url = "https://x.example/files/Cassation%20Volume%203.pdf"
        df = spark.createDataFrame([(url,)], "v: string")
        row = df.select(
            title_from_base_name(base_name_from_url(F.col("v"))).alias("t")
        ).collect()[0]
        assert row["t"] == "Cassation Volume 3"


class TestAbsolutize:
    """A-3 (scrape_pdf_links.py:14)."""

    def test_relative_prefixed(self, spark):
        assert (
            one(spark, "/files/vol.pdf", lambda c: absolutize_url(c, "https://base.example"))
            == "https://base.example/files/vol.pdf"
        )

    def test_absolute_untouched(self, spark):
        assert (
            one(spark, "https://other.example/v.pdf",
                lambda c: absolutize_url(c, "https://base.example"))
            == "https://other.example/v.pdf"
        )


class TestRouting:
    """A-17 (auto_ingest.yml:24-29)."""

    def test_vol_prefix_is_cassation(self, spark):
        assert one(spark, "vol01.pdf", resource_type) == "cassation_decision"

    def test_other_is_statute(self, spark):
        assert one(spark, "civil_code.docx", resource_type) == "statute"


class TestContentType:
    """§2.C-5: substring containment, not equality (fetch_legal_docs.py:52)."""

    def test_with_charset_suffix_accepted(self, spark):
        assert one(spark, "application/pdf;charset=binary", is_pdf_content_type)

    def test_html_rejected(self, spark):
        assert not one(spark, "text/html", is_pdf_content_type)


class TestCanonicalizeUrl:
    """RFC 3986 section-6 normalization (functions/text.py
    canonicalize_url): case, ports, dot segments, percent-escapes,
    fragments, idempotence."""

    def test_case_port_fragment(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        assert (
            canonicalize_url("HTTP://SITE3.EXAMPLE:80/a/b.html#frag")
            == "http://site3.example/a/b.html"
        )
        assert (
            canonicalize_url("https://A.Example:443/")
            == "https://a.example/"
        )
        # non-default ports survive
        assert (
            canonicalize_url("https://a.example:8443/x")
            == "https://a.example:8443/x"
        )

    def test_dot_segments_spec_algorithm(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        assert (
            canonicalize_url("http://h.example/a/b/../../c")
            == "http://h.example/c"
        )
        assert (
            canonicalize_url("http://h.example/a/./b/.")
            == "http://h.example/a/b/"
        )
        # leading .. cannot climb above root
        assert (
            canonicalize_url("http://h.example/../x")
            == "http://h.example/x"
        )

    def test_percent_escapes(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        # unreserved octets decode; reserved escapes kept, hex uppercased
        assert (
            canonicalize_url("http://h.example/%7Euser/%2fx%4a")
            == "http://h.example/~user/%2FxJ"
        )
        # malformed escape left alone
        assert (
            canonicalize_url("http://h.example/a%zz")
            == "http://h.example/a%zz"
        )

    def test_ipv6_and_malformed_port(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        # hostname strips IPv6 brackets; must re-bracket
        assert canonicalize_url("http://[::1]/x") == "http://[::1]/x"
        assert (
            canonicalize_url("HTTP://[2001:DB8::1]:80/a")
            == "http://[2001:db8::1]/a"
        )
        assert (
            canonicalize_url("http://[::1]:8080/x") == "http://[::1]:8080/x"
        )
        # malformed port: don't raise, but still normalize the host part
        # (r6 ADVICE: verbatim authority split 'HTTP://Host:7x/' and
        # 'http://host:7x/' into distinct dedup keys)
        assert (
            canonicalize_url("http://h.example:7x/a")
            == "http://h.example:7x/a"
        )
        assert canonicalize_url("HTTP://H.Example:7x/a") == canonicalize_url(
            "http://h.example:7x/a"
        )
        # malformed port on an IPv6 host keeps the brackets
        assert (
            canonicalize_url("http://[::1]:7x/a") == "http://[::1]:7x/a"
        )

    def test_empty_path_userinfo_query(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        assert canonicalize_url("http://h.example") == "http://h.example/"
        assert (
            canonicalize_url("http://u:p@H.Example/x")
            == "http://u:p@h.example/x"
        )
        assert (
            canonicalize_url("http://h.example/p?q=%41&b=2")
            == "http://h.example/p?q=A&b=2"
        )

    def test_idempotent(self):
        from ethiopia_legal_etl_spark.functions.text import canonicalize_url

        for u in [
            "HTTP://SITE3.EXAMPLE:80/docs/../docs/%66ile7.html#f",
            "http://u@h.example:8080/a/./b/%2F?x=%7E",
            "https://h.example",
        ]:
            once = canonicalize_url(u)
            assert canonicalize_url(once) == once
