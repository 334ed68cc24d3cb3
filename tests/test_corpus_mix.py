"""corpus_mix (operators/corpus.py): token-budget source mixing — greedy
cut in deterministic md5 order, overshoot bounded by one document per
source."""

from web_crawler_spark.operators import corpus as C


def _corpus(spark):
    # source A: 10 docs x 10 tokens; source B: 5 docs x 4 tokens
    rows = [(i, "A", " ".join(f"w{i}_{j}" for j in range(10))) for i in range(10)]
    rows += [(100 + i, "B", " ".join(f"b{i}_{j}" for j in range(4))) for i in range(5)]
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def _budgets(spark, a, b):
    return spark.createDataFrame([("A", a), ("B", b)], ["source", "token_budget"])


def test_exact_mix_greedy_cut_and_overshoot_bound(spark):
    mix = C.corpus_mix(_corpus(spark), _budgets(spark, 35, 1000)).collect()
    a = [r for r in mix if r.source == "A"]
    b = [r for r in mix if r.source == "B"]
    # A: 10-token docs against a 35-token budget -> exactly 4 admitted
    # (cum-n_tokens = 0,10,20,30 < 35; the 5th starts at 40)
    assert len(a) == 4 and sum(r.n_tokens for r in a) == 40
    # B: budget exceeds the source -> everything admitted
    assert len(b) == 5 and sum(r.n_tokens for r in b) == 20
    # deterministic: same admit set on re-run
    again = C.corpus_mix(_corpus(spark), _budgets(spark, 35, 1000)).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in mix)


def test_adaptive_plan_picks_window_when_sources_fit(spark):
    # 10-row max source << default 2M threshold -> window path
    mix = C.corpus_mix(_corpus(spark), _budgets(spark, 35, 1000)).collect()
    assert C.LAST_MIX_PLAN["path"] == "window"
    assert C.LAST_MIX_PLAN["max_source_rows"] == 10
    assert len(mix) == 9


def test_adaptive_plan_prefixsum_engages_on_skewed_fixture(spark):
    # Skewed fixture: source A holds nearly all rows; with the task-fit
    # threshold below A's row count the probe must choose the two-level
    # prefix-sum scan...
    mix_ps = C.corpus_mix(
        _corpus(spark), _budgets(spark, 35, 1000), window_path_max_rows=5
    )
    got_ps = sorted(r.doc_id for r in mix_ps.collect())
    assert C.LAST_MIX_PLAN["path"] == "prefixsum"
    assert C.LAST_MIX_PLAN["max_source_rows"] == 10
    # ...and the two physical plans are admit-identical.
    mix_w = C.corpus_mix(
        _corpus(spark), _budgets(spark, 35, 1000), plan="window"
    )
    assert C.LAST_MIX_PLAN["path"] == "window"
    assert sorted(r.doc_id for r in mix_w.collect()) == got_ps
    mix_forced = C.corpus_mix(
        _corpus(spark), _budgets(spark, 35, 1000), plan="prefixsum"
    )
    assert sorted(r.doc_id for r in mix_forced.collect()) == got_ps


def test_zero_budget_admits_nothing(spark):
    mix = C.corpus_mix(_corpus(spark), _budgets(spark, 0, 0))
    assert mix.count() == 0
