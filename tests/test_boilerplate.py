"""Boilerplate removal: jusText-style block classification with context
smoothing, main-content reassembly."""

from __future__ import annotations

from web_crawler_spark.operators import boilerplate as B


class TestClassification:
    def _blocks(self, spark, rows):
        return spark.createDataFrame(
            rows, "url string, block_idx int, text string, link_density double"
        )

    def test_raw_classes(self, spark):
        good = ("the crawler is a program that walks the web and it is "
                "written for the purpose of fetching pages end to end")
        df = self._blocks(spark, [
            ("u", 0, "Home About Contact", 1.0),          # bad: link-dense
            ("u", 1, good, 0.0),                            # good
        ])
        got = {r["block_idx"]: r["block_class"]
               for r in B.classify_blocks(df).collect()}
        assert got == {0: "bad", 1: "good"}

    def test_smoothing_adopts_good_neighbor(self, spark):
        good = ("the crawler is a program that walks the web and it is "
                "written for the purpose of fetching pages end to end")
        df = self._blocks(spark, [
            ("u", 0, good, 0.0),
            ("u", 1, "short tail", 0.0),     # undecided -> neighbor is good
            ("u", 2, "Home About", 1.0),     # decided bad stays bad
        ])
        got = {r["block_idx"]: r["block_class"]
               for r in B.classify_blocks(df).collect()}
        assert got == {0: "good", 1: "good", 2: "bad"}

    def test_isolated_undecided_is_bad(self, spark):
        df = self._blocks(spark, [
            ("u", 0, "Nav Bar", 1.0),
            ("u", 1, "short tail", 0.0),
            ("u", 2, "More Links", 1.0),
        ])
        got = {r["block_idx"]: r["block_class"]
               for r in B.classify_blocks(df).collect()}
        assert got == {0: "bad", 1: "bad", 2: "bad"}


class TestMainContent:
    def _blocks(self, spark, rows):
        return spark.createDataFrame(
            [("u1", i, t, ld) for i, (t, ld) in enumerate(rows)],
            "url string, block_idx int, text string, link_density double",
        )

    def test_end_to_end(self, spark):
        # a page's blocks in document order with their link densities: nav,
        # h1, two prose paragraphs, a related-links div, a short tail, footer
        blocks = self._blocks(spark, [
            ("Home About Contact", 1.0),
            ("The story of a crawler", 0.0),
            ("The crawler is a program that walks the web and it is written "
             "for the purpose of fetching pages. It is the backbone of a "
             "search engine and of the training corpora that feed language "
             "models.", 0.0),
            ("It is polite to hosts and it is careful with the robots file, "
             "and that discipline is the reason operators tolerate it at "
             "all.", 0.0),
            ("Related one Related two", 1.0),
            ("Short tail.", 0.0),
            ("Terms Privacy", 1.0),
        ])
        out = B.main_content(B.classify_blocks(blocks)).collect()[0]
        assert out["n_blocks"] > out["n_good_blocks"] > 0
        assert out["main_text"].startswith("The story of a crawler")
        assert "Home" not in out["main_text"]          # nav dropped
        assert "Terms" not in out["main_text"]         # footer dropped
        assert "robots file" in out["main_text"]       # prose kept
        # 'Short tail.' is undecided but sits after a link-dense div and
        # before the footer... its nearest decided neighbors: the div (bad)
        # and footer (bad) -> dropped.
        assert "Short tail." not in out["main_text"]

    def test_all_boilerplate_doc_survives_empty(self, spark):
        blocks = self._blocks(spark, [("Home X", 1.0)])
        out = B.main_content(B.classify_blocks(blocks)).collect()[0]
        assert out["main_text"] == "" and out["n_good_blocks"] == 0
