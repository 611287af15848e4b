"""Line-level dedup, repetition gates, URL canonicalization.

These exercise the REAL contracts (newline-delimited text, messy
URLs); the driver queries mirror the same operators over
deterministically derived lines/urls so DuckDB can oracle them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gnames_spark.functions.urlnorm import canonical_url, latest_snapshot
from gnames_spark.operators.linededup import (
    explode_lines,
    shared_lines,
    strip_shared_lines,
)
from gnames_spark.operators.repetition import repetition_stats

BOILER = "Cookie notice: we use cookies"
NAV = "Home | About | Contact"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, f"{BOILER}\nunique first body line\nmore unique text one\n{NAV}"),
        (2, f"{BOILER}\nsecond doc body differs\n{NAV}\n"),
        (3, "an original page\nwith no boilerplate at all"),
        (4, f"{BOILER}\n{BOILER}\nonly boilerplate here\n{NAV}"),
        (5, "   \n  \n"),  # whitespace-only: passes through untouched
        (6, f"repeat me\nrepeat me\nrepeat me\nrepeat me\nunique tail\n{NAV}"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestLineDedup:
    def test_explode_lines_trims_and_orders(self, docs):
        got = explode_lines(docs).filter("doc_id = 2").orderBy("line_no")
        assert [r.line for r in got.collect()] == [
            BOILER,
            "second doc body differs",
            NAV,
        ]

    def test_shared_lines_counts_distinct_docs(self, spark, docs):
        lines = explode_lines(docs)
        hot = {
            r.line_hash: r.n_docs for r in shared_lines(lines, 2).collect()
        }
        boiler_h = spark.sql(
            f"select xxhash64('{BOILER}') h, xxhash64('{NAV}') n"
        ).first()
        # BOILER in docs 1,2,4 (doc 4 twice counts once); NAV in 1,2,4,6.
        assert hot[boiler_h.h] == 3
        assert hot[boiler_h.n] == 4
        # "repeat me" repeats only WITHIN doc 6 -> not shared
        assert len(hot) == 2

    def test_strip_shared_lines(self, docs):
        out = {r.doc_id: r for r in strip_shared_lines(docs, 2).collect()}
        assert out[1].text == "unique first body line\nmore unique text one"
        assert out[1].n_lines == 4 and out[1].n_shared_lines == 2
        assert out[2].text == "second doc body differs"
        assert out[3].text == "an original page\nwith no boilerplate at all"
        assert out[3].n_shared_lines == 0
        # doc 4: both BOILER copies stripped -> only its unique line stays
        assert out[4].text == "only boilerplate here"
        assert out[4].n_shared_lines == 3
        # whitespace-only doc passes through byte-identical
        assert out[5].text == "   \n  \n" and out[5].n_lines == 0
        # within-doc repetition is NOT cross-doc boilerplate
        assert out[6].text.startswith("repeat me")
        assert out[6].n_shared_lines == 1  # just NAV

    def test_all_lines_shared_yields_empty_text(self, spark):
        d = spark.createDataFrame(
            [(1, BOILER), (2, BOILER)], ["doc_id", "text"]
        )
        out = strip_shared_lines(d, 2).collect()
        assert all(r.text == "" for r in out)


class TestRepetition:
    def test_dup_line_fraction(self, docs):
        out = {r.doc_id: r for r in repetition_stats(docs).collect()}
        # doc 6: 6 lines, "repeat me" x4 -> 3 dup lines
        assert out[6].n_lines == 6 and out[6].n_dup_lines == 3
        assert out[6].dup_line_frac == 0.5
        assert out[6].repetitive
        assert out[3].n_dup_lines == 0 and not out[3].repetitive

    def test_top_gram_fraction(self, spark):
        d = spark.createDataFrame(
            [(1, "buy now buy now buy now buy now cheap"),
             (2, "a perfectly ordinary sentence about nothing much")],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r for r in repetition_stats(d).collect()}
        # doc 1 bigrams: 8 total, "buy now" x4 -> 4/8
        assert out[1].n_grams == 8 and out[1].top_gram_n == 4
        assert out[1].top_gram_frac == 0.5
        assert out[1].repetitive
        assert out[2].top_gram_n == 1 and not out[2].repetitive

    def test_degenerate_docs_not_flagged(self, spark):
        d = spark.createDataFrame([(1, ""), (2, "one")], ["doc_id", "text"])
        out = {r.doc_id: r for r in repetition_stats(d).collect()}
        assert not out[1].repetitive and not out[2].repetitive
        assert out[1].n_lines == 0 and out[2].n_grams == 0


class TestUrlCanonical:
    CASES = [
        ("HTTPS://WWW.Example.com:443/Path/Sub/?utm_source=x&b=2&a=1#frag",
         "https://example.com/Path/Sub?a=1&b=2"),
        ("http://example.com:80/a//", "http://example.com/a"),
        ("https://example.com/a?fbclid=123&gclid=9&ref=tw",
         "https://example.com/a"),
        ("https://example.com/a?z=1&y=2", "https://example.com/a?y=2&z=1"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("http://sub.www.example.com/a", "http://sub.www.example.com/a"),
        ("https://example.com", "https://example.com"),
        ("https://example.com/?", "https://example.com"),
        # no scheme -> not a crawlable URL: pass through unchanged
        ("example.com/a?utm_source=x", "example.com/a?utm_source=x"),
        ("doc://123", "doc://123"),
    ]

    def test_canonical_cases(self, spark):
        df = spark.createDataFrame(
            [(u,) for u, _ in self.CASES], ["url"]
        ).withColumn("canon", canonical_url("url"))
        got = {r.url: r.canon for r in df.collect()}
        for raw, want in self.CASES:
            assert got[raw] == want, raw

    def test_latest_snapshot_picks_newest(self, spark):
        rows = [
            (1, "https://EXAMPLE.com/a?utm_source=x", 100),
            (2, "https://example.com/a/", 300),
            (3, "https://www.example.com/a", 200),
            (4, "https://example.com/b", 50),
        ]
        d = spark.createDataFrame(rows, ["doc_id", "url", "warc_ts"])
        out = {r.canonical_url: r for r in latest_snapshot(d).collect()}
        a = out["https://example.com/a"]
        assert a.n_snapshots == 3 and a.doc_id == 2 and a.warc_ts == 300
        assert out["https://example.com/b"].doc_id == 4

    def test_latest_snapshot_tie_breaks_by_id(self, spark):
        d = spark.createDataFrame(
            [(7, "https://e.com/x", 100), (9, "https://e.com/x", 100)],
            ["doc_id", "url", "warc_ts"],
        )
        assert latest_snapshot(d).first().doc_id == 9

    def test_no_window_in_snapshot_plan(self, spark):
        d = spark.createDataFrame(
            [(1, "https://e.com/x", 1)], ["doc_id", "url", "warc_ts"]
        )
        plan = latest_snapshot(d)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestPreClean:
    """Config-gated crawl-hygiene pre-clean inside prepare_docs:
    snapshot collapse -> boilerplate strip -> repetition gate, all
    BEFORE content_sha (cleaned bytes feed the exact screen)."""

    BOIL = "Cookie notice: we use cookies | Home | About | Contact"
    CORE = (
        "shared core body text that is identical across both carriers "
        "and long enough to shingle comfortably for the kernel"
    )

    def _pages(self, spark):
        import datetime as dt

        t0 = dt.datetime(2025, 1, 1)
        rows = [
            # same canonical URL, two captures -> keep the newer
            ("https://a.com/page?utm_source=x", t0,
             f"{self.BOIL}\nthe OLD capture body which should vanish entirely", "en"),
            ("https://a.com/page", t0 + dt.timedelta(days=1),
             f"{self.BOIL}\nthe new capture body with its own unique words", "en"),
            # differ ONLY by boilerplate placement -> exact dups after strip
            ("https://b.com/1", t0, f"{self.BOIL}\n{self.CORE}", "en"),
            ("https://c.com/1", t0, f"{self.CORE}\n{self.BOIL}", "en"),
            # degenerate repetition -> gated out
            ("https://d.com/spam", t0,
             "buy cheap pills now\n" * 30 + "tail line", "en"),
            ("https://e.com/ok", t0,
             "a completely unique page about nothing with plenty of "
             "ordinary words in it", "en"),
        ]
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string, lang string"
        )

    def test_preclean_end_to_end(self, spark):
        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        cfg = DedupConfig(
            shuffle_partitions=4,
            collapse_url_snapshots=True,
            strip_shared_lines_min_docs=3,
            max_dup_line_frac=0.5,
        )
        res = DedupPipeline(spark, cfg).run(self._pages(spark))
        docs = {r.url: r for r in res["docs"].collect()}
        assert set(docs) == {
            "https://a.com/page", "https://b.com/1",
            "https://c.com/1", "https://e.com/ok",
        }
        # boilerplate stripped BEFORE hashing: b and c byte-identical
        assert docs["https://b.com/1"].text == self.CORE
        assert (docs["https://b.com/1"].content_sha
                == docs["https://c.com/1"].content_sha)
        by_id = {r.doc_id: r.component_id
                 for r in res["components"].collect()}
        assert (by_id[docs["https://b.com/1"].doc_id]
                == by_id[docs["https://c.com/1"].doc_id])
        assert len(set(by_id.values())) == 3  # {a}, {b,c}, {e}

    def test_preclean_off_is_noop(self, spark):
        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        res = DedupPipeline(spark, DedupConfig(shuffle_partitions=4)).run(
            self._pages(spark)
        )
        docs = {r.url: r for r in res["docs"].collect()}
        assert len(docs) == 6  # nothing collapsed, gated, or stripped
        assert (docs["https://b.com/1"].content_sha
                != docs["https://c.com/1"].content_sha)

    def test_collapse_requires_warc_ts(self, spark):
        import pytest as _pytest

        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        pages = self._pages(spark).drop("warc_ts")
        pipe = DedupPipeline(
            spark, DedupConfig(shuffle_partitions=4, collapse_url_snapshots=True)
        )
        with _pytest.raises(ValueError, match="warc_ts"):
            pipe.prepare_docs(pages).collect()


class TestHygienePlans:
    """The skew posture is the point: no Window operator anywhere in
    the hygiene plans (hot lines/urls must be combiner cells, not
    single tasks)."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_no_window_in_line_strip_plan(self, docs):
        assert "Window" not in self._plan(strip_shared_lines(docs, 2))

    def test_no_window_in_repetition_plan(self, docs):
        assert "Window" not in self._plan(repetition_stats(docs))


class TestLineSkew:
    """A boilerplate line carried by a huge share of the corpus (cookie
    banner, 10^7 pages in a real crawl) must never pin one task: the
    hot-line count is a two-level map-side-combinable groupBy and
    membership is a join — never Window.partitionBy(line)."""

    def test_megagroup_hot_line(self, spark):
        hot = spark.range(20000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("Cookie banner shared everywhere\nunique body "),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        out = strip_shared_lines(hot, min_docs=2)
        from gnames_spark.plans.audit import physical_plan

        assert "Window" not in physical_plan(out)
        rows = out.agg(
            F.count("*").alias("n"),
            F.sum("n_shared_lines").alias("shared"),
            F.sum(F.when(F.col("text").startswith("unique body"), 1)).alias("clean"),
        ).collect()[0]
        assert rows.n == 20000 and rows.shared == 20000 and rows.clean == 20000
        # the hot line itself is ONE row in the shared-line aggregate
        lines = explode_lines(hot)
        assert shared_lines(lines, 2).count() == 1


class TestPrecleanReport:
    def test_report_matches_prepare(self, spark):
        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        cfg = DedupConfig(
            shuffle_partitions=4,
            collapse_url_snapshots=True,
            strip_shared_lines_min_docs=3,
            max_dup_line_frac=0.5,
            redact_pii=True,
        )
        pages = TestPreClean()._pages(spark)
        pipe = DedupPipeline(spark, cfg)
        report = pipe.preclean_report(pages).collect()
        gates = [(r.gate, r.n_in, r.n_out) for r in report]
        assert gates == [
            ("collapse_url_snapshots", 6, 5),
            ("strip_shared_lines", 5, 5),
            ("repetition_gate", 5, 4),
            ("redact_pii", 4, 4),
        ]
        # strip detail: BOIL carried by a-new, b, c -> 3 occurrences
        assert "3 boilerplate line occurrences" in report[1].detail
        # no-drift pin: the report's final survivor count equals what
        # prepare_docs actually produces under the same config
        assert pipe.prepare_docs(pages).count() == gates[-1][2]

    def test_report_no_gates(self, spark):
        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        pages = TestPreClean()._pages(spark)
        rows = DedupPipeline(
            spark, DedupConfig(shuffle_partitions=4)
        ).preclean_report(pages).collect()
        assert [(r.gate, r.n_in, r.n_out) for r in rows] == [
            ("no_gates_configured", 6, 6)
        ]


class TestPrecleanReportCLI:
    def test_cli_report_mode(self, spark, tmp_path):
        import glob
        import json as _json

        from gnames_spark.cli import main

        src = str(tmp_path / "pages")
        TestPreClean()._pages(spark).write.parquet(src)
        out = str(tmp_path / "out")
        rc = main([
            "--input", src, "--output", out, "--preclean-report",
            "--collapse-url-snapshots", "--strip-shared-lines-min-docs", "3",
            "--max-dup-line-frac", "0.5", "--shuffle-partitions", "4",
        ])
        assert rc == 0
        parts = glob.glob(out + "/preclean_report/part-*")
        assert parts
        rows = [_json.loads(line) for p in parts for line in open(p)]
        gates = {r["gate"]: (r["n_in"], r["n_out"]) for r in rows}
        assert gates["collapse_url_snapshots"] == (6, 5)
        assert gates["repetition_gate"] == (5, 4)
        # report mode never runs the dedup stages
        assert not glob.glob(out + "/components*")


class TestDupNgramChars:
    def test_char_weighted_fraction(self, spark):
        from gnames_spark.operators.repetition import dup_ngram_stats

        rows = [
            # "a b c d e" repeated: the repeated region dominates
            (1, "a b c d e a b c d e a b c d e"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "xy"),   # shorter than n tokens -> no grams
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.doc_id: r for r in dup_ngram_stats(docs, n=5).collect()}
        # doc 1: 11 5-grams over a 5-periodic sequence -> every gram is
        # one of 5 rotations; 15 tokens => 11 windows, each rotation
        # appears 2-3 times, so EVERY gram char is in a duplicate gram
        assert out[1].n_grams == 11 and out[1].dup_gram_char_frac == 1.0
        # doc 2: all grams unique
        assert out[2].n_grams == 6 and out[2].dup_gram_char_frac == 0.0
        # doc 3: no grams at all
        assert out[3].n_grams == 0 and out[3].dup_gram_char_frac == 0.0


class TestDomainBlocklist:
    def test_blocks_exact_and_subdomains(self, spark):
        from gnames_spark.functions.urlnorm import filter_blocked_domains

        rows = [
            (1, "https://bad.example.com/p"),
            (2, "https://a.b.bad.example.com/q"),      # subdomain: blocked
            (3, "https://good.example.com/p"),
            (4, "https://notbad.example.com/p"),        # suffix-of-label: kept
            (5, "https://WWW.BAD.EXAMPLE.COM:443/x"),   # case + www + port
            (6, "doc://123"),                           # no host: passes
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "url"])
        kept = {
            r.doc_id
            for r in filter_blocked_domains(docs, ["bad.example.com"]).collect()
        }
        assert kept == {3, 4, 6}

    def test_www_prefixed_entries_normalized(self, spark):
        # a user-supplied 'www.bad.com' entry must block bad.com and
        # its subdomains, same normalization as the host side
        from gnames_spark.functions.urlnorm import filter_blocked_domains

        rows = [
            (1, "https://bad.example.com/p"),
            (2, "https://www.bad.example.com/p"),
            (3, "https://sub.bad.example.com/p"),
            (4, "https://good.example.com/p"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "url"])
        kept = {
            r.doc_id
            for r in filter_blocked_domains(
                docs, ["WWW.bad.example.com"]
            ).collect()
        }
        assert kept == {4}
        # same contract on the DataFrame branch
        bl = spark.createDataFrame([(".www.bad.example.com",)], ["domain"])
        kept_df = {
            r.doc_id for r in filter_blocked_domains(docs, bl).collect()
        }
        assert kept_df == {4}

    def test_www_tld_entry_does_not_block_the_tld(self, spark):
        # 'www.com' must not normalize to the bare TLD 'com' (which would
        # block every .com url): it blocks only the host www.com and its
        # subdomains, on both the list and the DataFrame branch
        from gnames_spark.functions.urlnorm import (
            _norm_blocklist_entry,
            filter_blocked_domains,
            url_host,
        )

        assert _norm_blocklist_entry("WWW.com") == "www.com"
        assert _norm_blocklist_entry(".www.bad.com") == "bad.com"
        rows = [
            (1, "https://www.com/p"),
            (2, "https://a.www.com/p"),
            (3, "https://example.com/p"),
            (4, "https://www.example.com/p"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "url"])
        hosts = [r.h for r in docs.orderBy("doc_id").select(url_host("url").alias("h")).collect()]
        assert hosts == ["www.com", "a.www.com", "example.com", "example.com"]
        kept = {r.doc_id for r in filter_blocked_domains(docs, ["www.com"]).collect()}
        assert kept == {3, 4}
        bl = spark.createDataFrame([("WWW.COM",)], ["domain"])
        assert {r.doc_id for r in filter_blocked_domains(docs, bl).collect()} == {3, 4}

    def test_blocklist_as_dataframe_and_tld_block(self, spark):
        from gnames_spark.functions.urlnorm import filter_blocked_domains

        docs = spark.createDataFrame(
            [(1, "https://x.spam/p"), (2, "https://x.org/p")],
            ["doc_id", "url"],
        )
        bl = spark.createDataFrame([("SPAM",)], ["domain"])
        kept = {r.doc_id for r in filter_blocked_domains(docs, bl).collect()}
        assert kept == {2}  # whole-TLD block, case-normalized

    def test_url_host(self, spark):
        from gnames_spark.functions.urlnorm import url_host

        rows = [("https://www.A.B.com:443/x?q=1",), ("not-a-url",)]
        got = [
            r.h
            for r in spark.createDataFrame(rows, ["url"])
            .select(url_host("url").alias("h"))
            .collect()
        ]
        assert got == ["a.b.com", None]  # lowercased, www/port stripped


class TestBlocklistGate:
    def test_blocklist_in_preclean_and_report(self, spark):
        from gnames_spark.config import DedupConfig
        from gnames_spark.pipeline import DedupPipeline

        import datetime as dt

        t0 = dt.datetime(2025, 1, 1)
        rows = [
            ("https://spamfarm.biz/a", t0, "junk content words here", "en"),
            ("https://x.spamfarm.biz/b", t0, "more junk from a subdomain", "en"),
            ("https://fine.org/c", t0,
             "a perfectly ordinary page body with many plain words", "en"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string, lang string"
        )
        cfg = DedupConfig(
            shuffle_partitions=4, blocked_domains=("spamfarm.biz",)
        )
        pipe = DedupPipeline(spark, cfg)
        docs = pipe.prepare_docs(pages)
        assert {r.url for r in docs.select("url").collect()} == {
            "https://fine.org/c"
        }
        report = {r.gate: r for r in pipe.preclean_report(pages).collect()}
        assert report["blocked_domains"].n_in == 3
        assert report["blocked_domains"].n_out == 1

    def test_config_hash_sees_blocklist(self):
        from gnames_spark.config import DedupConfig

        a = DedupConfig()
        b = DedupConfig(blocked_domains=("bad.example",))
        assert a.config_hash() != b.config_hash()
