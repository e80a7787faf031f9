"""Operator-level tests for the round-7 additions: winnowing
fingerprints, Gopher quality rules, SQ8 scalar quantization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ winnowing_fingerprints
def test_winnowing_shared_run_guarantee(spark):
    """Schleimer et al. Theorem: any shared token run of length
    >= w + k - 1 (= 6 here) produces at least one shared fingerprint."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"six seven {shared} eight nine ten"),
            (3, "totally different words everywhere here now again more"),
        ],
        "id bigint, text string",
    )
    fp = winnowing_fingerprints(df, "id", "text", k=3, w=4)
    by_doc = {
        r.id: set(r.fps)
        for r in fp.groupBy("id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2]  # guaranteed shared fingerprint
    assert not (by_doc[1] & by_doc[3])


def test_winnowing_degenerate_docs(spark):
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [
            (1, "a b"),            # < k tokens: no grams, no fingerprints
            (2, "a b c d"),        # 2 grams < w: single global min
            (3, None),             # null text
        ],
        "id bigint, text string",
    )
    rows = winnowing_fingerprints(df, "id", "text", k=3, w=4).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.id, []).append(r.fingerprint)
    assert 1 not in per_doc and 3 not in per_doc
    assert len(per_doc[2]) == 1  # the degenerate single-min case


def test_winnowing_keeps_fraction_of_grams(spark):
    """Density: ~2/(w+1) of gram hashes are kept — sanity-check the
    compression is real (far fewer fingerprints than grams)."""
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        winnowing_fingerprints,
    )

    text = " ".join(f"tok{(i * 7) % 53}" for i in range(500))
    df = spark.createDataFrame([(1, text)], "id bigint, text string")
    n_fp = winnowing_fingerprints(df, "id", "text", k=3, w=8).count()
    n_grams = 500 - 2
    assert n_fp < n_grams * 0.5  # well below the raw gram count


# ------------------------------------------------------- gopher_quality
@pytest.mark.parametrize(
    "text,failing_flag",
    [
        ("short doc", "flag_words"),
        (" ".join(["supercalifragilistic"] * 60), "flag_word_len"),
        (" ".join(["the", "of", "word"] * 20) + " " + "# " * 30, "flag_symbols"),
        ("\n".join(["- the of item"] * 40), "flag_bullets"),
        ("\n".join(["the of line..."] * 40), "flag_ellipsis"),
        (" ".join([f"w{i}" for i in range(60)]), "flag_stopwords"),
    ],
)
def test_gopher_each_rule_fires(spark, text, failing_flag):
    from neotree_data_pipeline_kedro_spark.functions.text import gopher_quality

    df = spark.createDataFrame([(text,)], "t string")
    g = gopher_quality(F.col("t"))
    row = df.select(
        *[expr.alias(name) for name, expr in g.items()]
    ).collect()[0]
    assert row[failing_flag] is False, dict(row.asDict())
    assert row["keep"] is False


def test_gopher_clean_doc_keeps(spark):
    from neotree_data_pipeline_kedro_spark.functions.text import gopher_quality

    text = " ".join(["the quick brown fox of doom jumps to the lazy dog in"] * 6)
    df = spark.createDataFrame([(text,)], "t string")
    g = gopher_quality(F.col("t"))
    row = df.select(
        *[expr.alias(name) for name, expr in g.items()]
    ).collect()[0]
    assert row["keep"] is True, dict(row.asDict())


# --------------------------------------------------------- sq8_quantize
def test_sq8_roundtrip_error_bound(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        sq8_quantize,
    )

    vecs = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [3.0, 2.0, -3.0, 1.5]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # all-zero vector
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    rows = sq8_quantize(df, "vec_id", "embedding").collect()
    by = {(r.vec_id, r.dim): r for r in rows}
    assert len(rows) == 12
    # codes bounded, absmax dims get +-127 exactly, zero vector -> zeros
    for (vid, dim), r in by.items():
        assert -127 <= r.code <= 127
    assert by[(1, 1)].code == -127 and by[(2, 0)].code == 127
    assert all(by[(3, d)].code == 0 for d in range(4))
    # reconstruction error <= half a quantization step
    for (vid, dim), r in by.items():
        if r.absmax:
            x = vecs[vid - 1][1][dim]
            assert abs(x - r.code * r.absmax / 127) <= r.absmax / 254 + 1e-9


# ----------------------------------------------------- paragraph_dedup
def test_paragraph_dedup_removes_shared_preserves_order(spark):
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha one\nSHARED FOOTER\nbody text one"),
            (2, "alpha two\nSHARED FOOTER\nbody text two"),
            (3, "SHARED FOOTER"),          # all paragraphs dropped
            # blank paragraphs survive as positional placeholders (round-8
            # advice fix: an unaffected document round-trips byte-for-byte)
            # but never count toward n_kept and never cross-match as dups
            (4, "solo doc\n\n  \nkeep me"),
            (5, None),
        ],
        "id bigint, text string",
    )
    got = {
        r.id: (r.cleaned_text, r.n_kept, r.n_dropped)
        for r in paragraph_dedup(df, "id", "text", min_docs=2).collect()
    }
    assert got[1] == ("alpha one\nbody text one", 2, 1)
    assert got[2] == ("alpha two\nbody text two", 2, 1)
    assert got[3] == ("", 0, 1)
    assert got[4] == ("solo doc\n\n  \nkeep me", 2, 0)
    assert got[5] == ("", 0, 0)


# -------------------------------------------------------- count-min
def test_countmin_never_underestimates_and_merges(spark):
    from neotree_data_pipeline_kedro_spark.operators.frequency import (
        countmin_counters,
        countmin_estimate,
    )
    from pyspark.sql import functions as SF

    items = spark.range(10_000).select((SF.col("id") % 137).alias("k"))
    truth = {r.k: r.n for r in items.groupBy("k").agg(SF.count("*").alias("n")).collect()}
    counters = countmin_counters(items, "k", depth=4, width=64)
    est = {
        r.key: r.est_count
        for r in countmin_estimate(
            counters, items.select("k").distinct(), "k", depth=4, width=64
        ).collect()
    }
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)  # CM upper bound
    # mergeable: sketch(first half) + sketch(second half) == sketch(all)
    base = spark.range(10_000)
    a = countmin_counters(
        base.filter(SF.col("id") < 5000).select((SF.col("id") % 137).alias("k")),
        "k", depth=4, width=64,
    )
    b = countmin_counters(
        base.filter(SF.col("id") >= 5000).select((SF.col("id") % 137).alias("k")),
        "k", depth=4, width=64,
    )
    merged = (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(SF.sum("counter").cast("bigint").alias("counter"))
    )
    whole = {
        (r.row, r.bucket): r.counter for r in counters.collect()
    }
    got = {(r.row, r.bucket): r.counter for r in merged.collect()}
    assert got == whole


# ------------------------------------------------------------ dsir
def test_dsir_ranks_target_like_docs_higher(spark):
    from neotree_data_pipeline_kedro_spark.operators.frequency import (
        dsir_ratio_weights,
    )
    from pyspark.sql import functions as SF

    rows = []
    # target corpus speaks "ml" words; raw doc 10 is target-like,
    # raw doc 11 is not
    for d, words, tgt in [
        (1, ["model", "train", "loss"] * 10, 1),
        (2, ["model", "data", "train"] * 10, 1),
        (10, ["model", "train", "data"] * 5, 0),
        (11, ["cat", "dog", "fish"] * 5, 0),
    ]:
        rows += [(d, w, tgt) for w in words]
    df = spark.createDataFrame(rows, "doc bigint, tok string, tgt int")
    out = {
        r.doc: r.weight_ppm
        for r in dsir_ratio_weights(
            df, "doc", "tok", SF.col("tgt") == 1, buckets=16
        ).collect()
    }
    assert set(out) == {10, 11}  # only raw docs scored
    assert out[10] > out[11]


# ----------------------------------------------------- retrieval_metrics
def test_retrieval_metrics_overlap_and_rr(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        retrieval_metrics,
    )

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    cand = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (1, 99, 3),   # true top-1 at cand rank 2
         (2, 98, 1), (2, 97, 2), (2, 96, 3)],  # full miss
        "query_id bigint, neighbor_id bigint, rank int",
    )
    got = {
        r.query_id: (r.n_overlap, r.rr_micro)
        for r in retrieval_metrics(truth, cand, k=3).collect()
    }
    assert got[1] == (2, 500_000)  # 1e6 // 2
    assert got[2] == (0, 0)


def test_int_covariance_matches_numpy(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        int_covariance_sums,
    )

    rng = np.random.RandomState(7)
    mat = rng.randn(50, 4).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "id bigint, v array<float>",
    )
    out = {
        (r.i, r.j): (r.n, r.sum_q2)
        for r in int_covariance_sums(df, "id", "v", scale=1000).collect()
    }
    q = np.round(mat.astype(np.float64) * 1000).astype(np.int64)
    expect = q.T @ q
    assert len(out) == 16
    for (i, j), (n, s) in out.items():
        assert n == 50 and s == expect[i, j]


# ------------------------------------------------ bfs_hops
def _py_bfs(edges, seeds, max_hops):
    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    nxt.add(m)
        for m in nxt:
            dist[m] = h
        frontier = nxt
        if not frontier:
            break
    return dist


@pytest.mark.parametrize(
    "edges,seeds,max_hops",
    [
        # chain: hop count increments one per link, truncated at max_hops
        ([(i, i + 1) for i in range(10)], [0], 4),
        # two components, seed reaches only one of them
        ([(1, 2), (2, 3), (10, 11)], [1], 5),
        # multi-source: min distance over ALL seeds wins
        ([(i, i + 1) for i in range(10)], [0, 9], 3),
        # cycle + self-loop + duplicate edges
        ([(1, 2), (2, 1), (2, 3), (3, 1), (3, 3)], [3], 2),
        # seed with no edges stays at hops 0
        ([(5, 6)], [7], 3),
        # odd cycle: the two frontiers meet across one edge at the far
        # side (hops 3 and 3 on C7), which the one-hop look-back must not
        # relabel as hop 4
        ([(i, (i + 1) % 7) for i in range(7)], [0], 5),
        # triangle-dense strip: every node has neighbours in its own
        # frontier and in the previous one
        ([(i, i + 1) for i in range(9)] + [(i, i + 2) for i in range(8)],
         [0], 6),
        # asymmetric directed input, edges pointing at the seeds: reach
        # is over the undirected edge set, so every node is found
        ([(1, 0), (2, 1), (3, 2), (4, 0), (5, 4), (5, 3), (6, 9), (7, 9)],
         [0, 9], 4),
    ],
)
def test_bfs_hops_matches_python_twin(spark, edges, seeds, max_hops):
    from neotree_data_pipeline_kedro_spark.operators.components import bfs_hops

    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edf, sdf, max_hops=max_hops).collect()
    }
    assert got == _py_bfs(edges, seeds, max_hops)


def test_bfs_hops_first_label_is_minimum(spark):
    """A node reachable at hop 1 and hop 2 must settle at 1, and the seed
    must not come back at hop 2 (the anti-join must cover the previous
    frontier, not just the current one)."""
    from neotree_data_pipeline_kedro_spark.operators.components import bfs_hops

    edges = [(0, 1), (0, 2), (2, 1)]  # 1 is 1 hop away directly, 2 via 2
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    sdf = spark.createDataFrame([(0,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edf, sdf, max_hops=4).collect()}
    assert got == {0: 0, 1: 1, 2: 1}


# ------------------------------------------------ w27 SAX symbolization
def test_sax_word_known_series(spark):
    """Hand-checked SAX: an ascending series maps low→'a', high→'d', and a
    constant series (σ=0) pins z to 0, which the breakpoint ladder maps to
    'c' (the [0, 0.6745) band)."""
    import datetime as dt

    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES
    import os
    import tempfile

    # synthesize a tiny events parquet dir shaped like the fixture
    rows = []
    base = dt.datetime(2024, 1, 1)
    # user 1: strictly ascending daily totals 0,10,20,...,90
    for d in range(10):
        rows.append((d, base + dt.timedelta(days=d), 1, "view", 10.0 * d, "{}"))
    # user 2: constant
    for d in range(5):
        rows.append((100 + d, base + dt.timedelta(days=d), 2, "view", 7.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {
            r["user_id"]: (r["n_days"], r["sax_word"])
            for r in QUERIES["w27_sax_symbols"](spark, tmp).collect()
        }
    n1, w1 = out[1]
    assert n1 == 10 and len(w1) == 10
    # ascending series: first symbol 'a', last 'd', non-decreasing word
    assert w1[0] == "a" and w1[-1] == "d" and list(w1) == sorted(w1)
    assert out[2] == (5, "ccccc")


# ------------------------------------------------ a39 funnel steps
def test_funnel_strict_ordering_and_window(spark):
    """Click before the first view doesn't count; a purchase outside the
    1-day window after the first qualifying click doesn't count."""
    import datetime as dt
    import os
    import tempfile

    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        # user 1: full funnel inside windows
        (1, t0, 1, "view", 1.0, "{}"),
        (1, t0 + h, 1, "click", 1.0, "{}"),
        (1, t0 + 2 * h, 1, "purchase", 1.0, "{}"),
        # user 2: click BEFORE first view -> no step 2
        (2, t0, 2, "click", 1.0, "{}"),
        (2, t0 + h, 2, "view", 1.0, "{}"),
        # user 3: click ok, purchase 2 days later -> outside window
        (3, t0, 3, "view", 1.0, "{}"),
        (3, t0 + h, 3, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(days=2), 3, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {
            r["step"]: (r["n_users"], r["conv_ppm"])
            for r in QUERIES["a39_funnel_steps"](spark, tmp).collect()
        }
    assert out["1_view"] == (3, 1_000_000)
    assert out["2_click_after_view"] == (2, 666_666)  # 2/3 truncated ppm
    assert out["3_purchase_after_click"] == (1, 500_000)


# ------------------------------------------------ theil_sen_slope
def test_theil_sen_robust_to_outlier(spark):
    """Lower median of pairwise slopes: one wild endpoint must not move
    the estimate (the whole point vs OLS)."""
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        theil_sen_slope,
    )

    rows = [("a", 0, 0), ("a", 1, 2), ("a", 2, 4), ("a", 3, 100),
            ("b", 5, 7)]  # group b: single point -> no pairs -> absent
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = theil_sen_slope(df, ["g"], "x", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert r.g == "a" and r.n_pairs == 6
    # pairwise slopes sorted: [2, 2, 2, 100/3, 49, 96] -> lower median = 2
    assert r.ts_slope == 2.0


def test_theil_sen_matches_pandas_twin(spark):
    import itertools

    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        theil_sen_slope,
    )

    rng = np.random.default_rng(7)
    rows = []
    for g in range(6):
        xs = sorted(rng.choice(40, size=rng.integers(2, 12), replace=False))
        for x in xs:
            rows.append((f"g{g}", int(x), int(rng.integers(-500, 500))))
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r.g: (r.n_pairs, r.ts_slope)
        for r in theil_sen_slope(df, ["g"], "x", "y").collect()
    }
    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))
    for g, pts in by_g.items():
        slopes = sorted(
            ((y2 - y1) / (x2 - x1), x1, x2)
            for (x1, y1), (x2, y2) in itertools.combinations(sorted(pts), 2)
        )
        if not slopes:
            assert g not in got
            continue
        lower_median = slopes[(len(slopes) + 1) // 2 - 1][0]
        assert got[g] == (len(slopes), lower_median)


# ------------------------------------------------ western_electric_flags
def test_western_electric_matches_pandas_twin(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        western_electric_flags,
    )

    rng = np.random.default_rng(11)
    rows = []
    for g in ("s1", "s2"):
        base = rng.integers(90, 110, size=40).astype(np.int64)
        base[17] = 400          # 3-sigma spike -> r1/r2
        base[25:34] = 160       # long high run -> r4 (and r3)
        for i, y in enumerate(base):
            rows.append((g, i, int(y)))
    df = spark.createDataFrame(rows, "g string, t long, y long")
    got = {
        (r.g, r.t): r
        for r in western_electric_flags(df, ["g"], "t", "y").collect()
    }
    assert len(got) == 80
    fired = {k: (v.r1, v.r2, v.r3, v.r4) for k, v in got.items()}
    assert any(f[0] for f in fired.values())
    assert any(f[3] for f in fired.values())
    for g in ("s1", "s2"):
        ys = np.array([y for gg, t, y in rows if gg == g], dtype=np.float64)
        m = ys.sum() / len(ys)
        sig = np.sqrt(max((ys * ys).sum() / len(ys) - m * m, 0.0))
        up1, dn1 = ys > m + sig, ys < m - sig
        up2, dn2 = ys > m + 2 * sig, ys < m - 2 * sig
        ab, be = ys > m, ys < m

        def roll(v, n, i):
            return v[max(0, i - n + 1): i + 1].sum()

        for i in range(len(ys)):
            r = got[(g, i)]
            assert r.series_mean == pytest.approx(m, abs=1e-9)
            assert r.r1 == (abs(ys[i] - m) > 3 * sig)
            assert r.r2 == (roll(up2, 3, i) >= 2 or roll(dn2, 3, i) >= 2)
            assert r.r3 == (roll(up1, 5, i) >= 4 or roll(dn1, 5, i) >= 4)
            assert r.r4 == (roll(ab, 8, i) >= 8 or roll(be, 8, i) >= 8)


# ------------------------------------------------ hard_example_mining
def test_hard_example_mining_picks_extremes(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        hard_example_mining,
    )

    # 2-d vectors, two labels; anchor 0 points along +x.
    rows = [
        (0, [1.0, 0.0], 1),      # anchor
        (1, [0.9, 0.1], 1),      # near-duplicate positive (hardest pos)
        (2, [0.0, 1.0], 1),      # far positive
        (3, [0.8, 0.2], 2),      # near negative (hardest neg)
        (4, [-1.0, 0.0], 2),     # far negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = df.filter("vec_id = 0")
    out = hard_example_mining(df, anchors, "vec_id", "embedding", "label").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.anchor_id, r.pos_id, r.neg_id) == (0, 1, 3)
    assert r.pos_sim > 0.98 and r.neg_sim > 0.96
    assert r.margin == r.pos_sim - r.neg_sim


def test_hard_example_mining_excludes_self_and_ties(spark):
    from neotree_data_pipeline_kedro_spark.operators.similarity import (
        hard_example_mining,
    )

    # identical candidates -> tie broken by lowest cand_id; self excluded
    rows = [
        (10, [1.0, 0.0], 1),
        (11, [1.0, 0.0], 1),
        (12, [1.0, 0.0], 1),
        (20, [1.0, 0.0], 2),
        (21, [1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        r.anchor_id: r
        for r in hard_example_mining(
            df, df.filter("vec_id in (10, 11)"), "vec_id", "embedding", "label"
        ).collect()
    }
    assert out[10].pos_id == 11 and out[11].pos_id == 10
    assert out[10].neg_id == 20 and out[11].neg_id == 20


# ------------------------------------------------ rank_biased_overlap
def test_rbo_identical_and_disjoint(spark):
    from neotree_data_pipeline_kedro_spark.operators.search import (
        rank_biased_overlap,
        rbo_weights,
    )

    ranks = [("g", i, i) for i in range(1, 11)]
    a = spark.createDataFrame(ranks, "g string, item long, rnk int")
    # identical rankings: item at rank i contributes suffix[i-1], so the
    # total is the sum of the whole suffix-weight vector
    # (= sum_k (1-p) p^(k-1), the overlap-ratio-1 closed form)
    out = rank_biased_overlap(a, a, ["g"], "item", "rnk").collect()
    assert out[0].rbo == pytest.approx(sum(rbo_weights()) / 1e15, abs=1e-12)
    # disjoint rankings -> 0.0, group still present
    b = spark.createDataFrame(
        [("g", i + 100, i) for i in range(1, 11)], "g string, item long, rnk int"
    )
    out = rank_biased_overlap(a, b, ["g"], "item", "rnk").collect()
    assert out[0].rbo == 0.0


def test_rbo_single_swap_costs_more_at_top(spark):
    from neotree_data_pipeline_kedro_spark.operators.search import (
        rank_biased_overlap,
    )

    base = {i: i for i in range(1, 11)}

    def mk(r):
        return spark.createDataFrame(
            [("g", item, rnk) for item, rnk in r.items()],
            "g string, item long, rnk int",
        )

    def swapped(i, j):
        r = dict(base)
        r[i], r[j] = r[j], r[i]
        return r

    a = mk(base)
    top_swap = rank_biased_overlap(a, mk(swapped(1, 2)), ["g"], "item", "rnk").collect()[0].rbo
    tail_swap = rank_biased_overlap(a, mk(swapped(9, 10)), ["g"], "item", "rnk").collect()[0].rbo
    # adjacent swaps only shrink one prefix overlap; the top one costs more
    assert tail_swap > top_swap
    assert 0.0 < top_swap < 1.0


# ------------------------------------------------ label_propagation
def test_label_propagation_two_cliques(spark):
    from neotree_data_pipeline_kedro_spark.operators.components import (
        label_propagation,
    )

    # two triangles bridged by one edge: each collapses to its min id
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.community for r in label_propagation(df, rounds=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[11] == out[12]


def test_label_propagation_matches_sync_twin(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.components import (
        label_propagation,
    )

    rng = np.random.default_rng(3)
    edges = {
        (int(a), int(b))
        for a, b in rng.integers(0, 30, size=(120, 2))
        if a != b
    }
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {
        r.node: r.community
        for r in label_propagation(df, rounds=2).collect()
    }
    # independent synchronous replay
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {n: n for n in nbrs}
    for _ in range(2):
        new = {}
        for n, ns in nbrs.items():
            counts = {}
            for m in ns:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(
                counts, key=lambda lab: (-counts[lab], lab)
            )
        labels = new
    assert got == labels


# ------------------------------------------------ rendezvous_assign
def test_rendezvous_minimal_disruption_and_balance(spark):
    from neotree_data_pipeline_kedro_spark.operators.sampling import (
        rendezvous_assign,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    s8 = {r.k: r.shard for r in rendezvous_assign(df, "k", 8).collect()}
    s9 = {r.k: r.shard for r in rendezvous_assign(df, "k", 9).collect()}
    moved = sum(1 for k in s8 if s8[k] != s9[k])
    # adding a 9th shard: only keys won by the new shard move (~1/9);
    # with key % N basically everything would move
    assert moved / 2000 < 0.2
    assert all(s9[k] == 8 for k in s8 if s8[k] != s9[k])
    # rough balance: every shard holds between 0.4x and 2.2x the fair share
    from collections import Counter

    c = Counter(s8.values())
    assert set(c) == set(range(8))
    assert all(2000 / 8 * 0.4 < v < 2000 / 8 * 2.2 for v in c.values())


# ------------------------------------------------ asof_join tolerance
def test_asof_tolerance_nulls_stale_matches(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (2, 50, "p3")],
        "k long, lts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 90, "c1"), (1, 110, "c2"), (2, 49, "c3")],
        "k long, rts long, cid string",
    )
    out = {
        r.pid: r.cid
        for r in asof_join(
            left, right, ["k"], "lts", "rts", ["cid"], tolerance=20
        ).collect()
    }
    # p1@100: nearest preceding is c1@90 (gap 10, inside) — NOT c2@110
    # p2@205: nearest preceding is c2@110 (gap 95 > 20) -> nulled
    # p3@50: c3@49 inside
    assert out == {"p1": "c1", "p2": None, "p3": "c3"}
    # without tolerance, p2 keeps its stale match
    out2 = {
        r.pid: r.cid
        for r in asof_join(left, right, ["k"], "lts", "rts", ["cid"]).collect()
    }
    assert out2["p2"] == "c2"


# ------------------------------------------------ median_polish
def test_median_polish_identity_and_robustness(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        median_polish,
    )

    # additive table + one poisoned cell: effects recover the structure
    rows = []
    row_base = {"a": 0, "b": 100, "c": 200}
    col_base = {1: 0, 2: 10, 3: 20, 4: 30, 5: 40}
    for rk, rv in row_base.items():
        for ck, cv in col_base.items():
            y = rv + cv + (100000 if (rk, ck) == ("b", 3) else 0)
            rows.append((rk, ck, y))
    df = spark.createDataFrame(rows, "r string, c long, y long")
    out = median_polish(df, "r", "c", "y").collect()
    assert len(out) == 15
    for rec in out:
        # exact additive identity
        assert rec.y == rec.row_effect + rec.col_effect + rec.residual
    by = {(rec.r, rec.c): rec for rec in out}
    # the poisoned cell's excess lands in its own residual, not the effects
    assert by[("b", 3)].residual >= 99000
    clean = [v for k, v in by.items() if k != ("b", 3)]
    assert all(abs(rec.residual) <= 50 for rec in clean)
    # relative row effects recovered (medians shift-invariant)
    ra = next(r.row_effect for r in out if r.r == "a")
    rc = next(r.row_effect for r in out if r.r == "c")
    assert rc - ra == 200


# ------------------------------------------------ ohlc_bars
def test_ohlc_bars_first_last_extremes(spark):
    from neotree_data_pipeline_kedro_spark.operators.timeseries import (
        ohlc_bars,
    )

    rows = [
        ("a", 10, 1, 500),
        ("a", 30, 2, 100),   # low
        ("a", 20, 3, 900),   # high
        ("a", 40, 4, 300),   # close (latest ts)
        ("b", 5, 5, 42),     # single point: open=close=high=low
        ("b", 5, 6, 41),     # same ts -> tiebreak on id: close is id 6
    ]
    df = spark.createDataFrame(rows, "k string, t long, e long, v long")
    got = {r.k: r for r in ohlc_bars(df, ["k"], "t", "e", "v").collect()}
    a = got["a"]
    assert (a.open, a.high, a.low, a.close, a.n_points, a.total) == (
        500, 900, 100, 300, 4, 1800,
    )
    b = got["b"]
    assert (b.open, b.close) == (42, 41)


# ------------------------------------------------ markov attribution
def test_markov_attribution_hand_chain(spark):
    from neotree_data_pipeline_kedro_spark.operators.attribution import (
        MICRO,
        journey_edges,
        markov_removal_effects,
    )

    # u1: A -> B -> buy ; u2: A -> out ; u3: B -> buy ; u4: A -> B -> out
    rows = []
    for uid, seq in enumerate(
        [["A", "B", "buy"], ["A"], ["B", "buy"], ["A", "B"]]
    ):
        for i, ch in enumerate(seq):
            rows.append((uid, i * 10, i, ch))
    df = spark.createDataFrame(rows, "u long, t long, e long, ch string")
    edges = journey_edges(df, "u", "t", "e", "ch", "buy")
    got = {
        (r.from_state, r.to_state): r.cnt for r in edges.collect()
    }
    assert got == {
        ("__start__", "A"): 3,
        ("__start__", "B"): 1,
        ("A", "B"): 2,
        ("A", "__null__"): 1,
        ("B", "__conv__"): 2,
        ("B", "__null__"): 1,
    }
    res = {r[0]: r for r in markov_removal_effects(edges, ["A", "B"], iters=50)}
    # exact chain: p(B)=2/3, p(A)=2/3*2/3=4/9, p(start)=(3*4/9 + 2/3)/4=1/2
    assert abs(res["A"][1] - MICRO // 2) <= 2
    # removing B: all conversion paths die -> p_removed = 0, effect 100%
    assert res["B"][2] == 0 and res["B"][3] == 1_000_000
    # removing A: only start->B->buy survives: p = 1/4 * 2/3 = 1/6
    assert abs(res["A"][2] - MICRO // 6) <= 2
    assert res["A"][3] < res["B"][3]


# ------------------------------------------------ ppjoin small-vocab path
def test_ppjoin_small_vocab_bitset_path_matches_bruteforce(spark):
    """Vocab <= 63 triggers the exact-bitset candidate filter + popcount
    verify; the output must equal the quadratic brute force exactly.
    A >63-vocab twin of the same shape pins the array fallback path."""
    import itertools
    import random

    from pyspark.sql import functions as SF

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        set_similarity_join,
    )

    rng = random.Random(13)

    def corpus(vocab):
        rows = []
        for i in range(60):
            k = rng.randint(5, min(14, len(vocab)))
            rows.append((i, rng.sample(vocab, k)))
        # planted near-dup pairs
        for i in range(5):
            base_set = rows[i][1]
            rows.append((100 + i, base_set[:-1] + [vocab[0]]))
        return rows

    def brute(rows, tau):
        out = set()
        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
            A, B = set(sa), set(sb)
            inter = len(A & B)
            if inter * 10 >= tau * len(A | B):
                out.add((min(ia, ib), max(ia, ib)))
        return out

    for vocab_n in (40, 120):  # bitset path / array fallback path
        vocab = [f"w{j}" for j in range(vocab_n)]
        rows = corpus(vocab)
        df = spark.createDataFrame(rows, "id bigint, s array<string>")
        got = {
            (r.id_a, r.id_b)
            for r in set_similarity_join(
                df, "id", "s", tau_num=6, tau_den=10
            ).collect()
        }
        want = brute([(i, set(s)) for i, s in rows], 6)
        assert got == want, f"vocab={vocab_n}"


# ------------------------------------------------ trained n-gram langid
def test_langid_ngram_separable_corpus(spark):
    """Two languages with disjoint vocabularies: the trained profiles
    must classify every held-out doc correctly; unseen-vocab docs fall
    back to 'und' with score 0."""
    from neotree_data_pipeline_kedro_spark.operators.langid import (
        classify_language_ngram,
        ngram_language_profiles,
    )

    rows = []
    for i in range(20):
        rows.append((i * 2, "aa bb cc aa bb cc aa bb", "A"))      # train A
        rows.append((i * 2 + 1, "xx yy zz xx yy zz xx yy", "B"))  # train B
    rows.append((1001, "bb cc aa bb cc aa", "A"))   # held-out A-ish
    rows.append((1003, "yy zz xx yy zz xx", "B"))   # held-out B-ish
    rows.append((1005, "qq rr ss qq rr ss", "?"))   # unseen vocab
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    train = df.filter("doc_id < 1000")
    profiles, totals = ngram_language_profiles(
        train, "doc_id", "text", "lang", n=3
    )
    pred = {
        r["doc_id"]: (r["pred_label"], r["score_ppm"])
        for r in classify_language_ngram(
            df, profiles, "doc_id", "text", n=3
        ).collect()
    }
    assert pred[1001][0] == "A" and pred[1001][1] > 0
    assert pred[1003][0] == "B" and pred[1003][1] > 0
    assert pred[1005] == ("und", 0)
    # every training doc classifies as its own language
    for i in range(20):
        assert pred[i * 2][0] == "A"
        assert pred[i * 2 + 1][0] == "B"
    # profile weights are ppm document frequencies: the 'aa bb cc' 3-gram
    # appears in every A training doc -> 1_000_000 ppm
    w = {
        (r["label"], r["gram"]): r["weight_ppm"] for r in profiles.collect()
    }
    assert w[("A", "aa bb cc")] == 1_000_000


# ------------------------------------------------ content-defined chunking
def test_cdc_chunks_resynchronize_after_prefix_shift(spark):
    """A 2-token prefix insertion shifts every fixed-offset chunk, but
    content-defined boundaries re-synchronize: the clone must share
    most of its chunk fingerprints with the original."""
    import random

    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        cdc_chunk_dedup,
    )

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(40)]
    base = " ".join(rng.choice(vocab) for _ in range(200))
    noise = " ".join(rng.choice(vocab) for _ in range(200))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, "zz qq " + base),  # shifted clone
            (3, noise),            # unrelated doc: no shared chunks
        ],
        "doc_id bigint, text string",
    )
    out = cdc_chunk_dedup(df, "doc_id", "text", k=3, boundary_mask=15).collect()
    assert out, "no shared chunks found between original and shifted clone"
    shared_tokens = sum(r["n_tokens"] for r in out)
    # ~200 tokens, mean chunk 16 -> expect most of the doc re-synced;
    # only the first chunk (before the first post-prefix boundary) differs
    assert shared_tokens >= 100, shared_tokens
    for r in out:
        assert r["n_docs"] == 2 and r["n_occurrences"] == 2


def test_cdc_chunks_k_guard(spark):
    from neotree_data_pipeline_kedro_spark.operators.neardup import (
        cdc_chunk_dedup,
    )
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    with _pytest.raises(NotImplementedError):
        cdc_chunk_dedup(df, "doc_id", "text", k=4)


# ------------------------------------------------ strongly connected comps
@pytest.mark.slow  # r13: heavy tail, builder-run via -m slow
def test_scc_hand_graph(spark):
    """Known topology: two cycles bridged by a one-way path, a chain, an
    isolated 2-cycle, and a self-reaching diamond. Labels = max member;
    every node labeled exactly once."""
    from neotree_data_pipeline_kedro_spark.operators.components import (
        strongly_connected_components,
    )

    edges = [
        # cycle A: 1 -> 2 -> 3 -> 1
        (1, 2), (2, 3), (3, 1),
        # one-way bridge into cycle B: 3 -> 10
        (3, 10),
        # cycle B: 10 -> 11 -> 12 -> 10
        (10, 11), (11, 12), (12, 10),
        # chain hanging off B (all singletons): 12 -> 20 -> 21 -> 22
        (12, 20), (20, 21), (21, 22),
        # isolated 2-cycle: 30 <-> 31
        (30, 31), (31, 30),
        # diamond with a back edge: 40->41->43->40 and 40->42->43
        (40, 41), (41, 43), (43, 40), (40, 42), (42, 43),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    expect = {
        1: 3, 2: 3, 3: 3,
        10: 12, 11: 12, 12: 12,
        20: 20, 21: 21, 22: 22,
        30: 31, 31: 31,
        40: 43, 41: 43, 42: 43, 43: 43,
    }
    # both code paths: driver-side Tarjan (default threshold) and the
    # distributed trim/color/mark loop (forced with local_threshold=0)
    for thr in (500_000, 0):
        out = strongly_connected_components(
            df, "src", "dst", local_threshold=thr
        ).collect()
        lab = {}
        for r in out:
            assert r["node"] not in lab, f"node {r['node']} emitted twice"
            lab[r["node"]] = r["scc_id"]
        assert lab == expect, f"local_threshold={thr}"


@pytest.mark.slow  # r13: heavy tail, builder-run via -m slow
def test_scc_matches_bruteforce_random(spark):
    """Random sparse digraph vs driver-side mutual-reachability BFS."""
    import random

    from neotree_data_pipeline_kedro_spark.operators.components import (
        strongly_connected_components,
    )

    rng = random.Random(42)
    n = 60
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(90)}
    edges = [(a, b) for a, b in edges if a != b]
    adj = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        nodes.update((s, d))
    reach = {}
    for v in nodes:
        seen, fr = set(), [v]
        while fr:
            nxt = []
            for u in fr:
                for w in adj.get(u, ()):
                    if w not in seen:
                        seen.add(w)
                        nxt.append(w)
            fr = nxt
        reach[v] = seen
    expect = {
        v: max({u for u in reach[v] if v in reach[u]} | {v}) for v in nodes
    }
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = strongly_connected_components(
        df, "src", "dst", local_threshold=0  # exercise the distributed loop
    ).collect()
    lab = {}
    for r in out:
        assert r["node"] not in lab, f"node {r['node']} emitted twice"
        lab[r["node"]] = r["scc_id"]
    assert lab == expect


# ------------------------------------------------ bitmap distinct rollup
def test_bitmap_rollup_merges_exactly(spark):
    """Weekly distincts derived from daily bitmap STATE equal recomputed
    distincts; word boundaries (ids 63/64/127/128) exercised."""
    from neotree_data_pipeline_kedro_spark.operators.incremental_agg import (
        bitmap_count,
        bitmap_distinct_state,
        bitmap_merge_to,
    )
    from pyspark.sql import functions as SF

    rows = []
    for day in range(4):
        for uid in (0, 1, 63, 64, 127, 128, 200 + day):
            rows.append((day, uid))
    rows.append((0, 0))  # duplicate event same day
    df = spark.createDataFrame(rows, "day int, user_id bigint")
    state = bitmap_distinct_state(df, "day", "user_id")
    daily = {
        r["day"]: r["n"]
        for r in bitmap_count(state, "day", "n").collect()
    }
    assert daily == {0: 7, 1: 7, 2: 7, 3: 7}
    weekly_state = bitmap_merge_to(state, "day", SF.expr("day DIV 2"))
    weekly = {
        r["day"]: r["n"]
        for r in bitmap_count(weekly_state, "day", "n").collect()
    }
    # days 0,1 share 6 common users + 200,201 -> 8; same for days 2,3
    assert weekly == {0: 8, 1: 8}


# ------------------------------------------------ radius-bounded kNN
def test_knn_within_radius_matches_bruteforce(spark):
    import itertools
    import random

    from neotree_data_pipeline_kedro_spark.operators.joins import (
        knn_within_radius,
    )

    rng = random.Random(3)
    pts = [(i, float(rng.randrange(100)), float(rng.randrange(100)))
           for i in range(80)]
    pts.append((900, 500.0, 500.0))  # isolated: no neighbor in radius
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    got = {
        (r.a_id, r.rank): (r.nn_id, r.dist_sq)
        for r in knn_within_radius(df, "id", "x", "y", radius=12.0, k=2).collect()
    }
    # brute force
    want = {}
    for i, x, y in pts:
        cand = sorted(
            ((x - bx) ** 2 + (y - by) ** 2, j)
            for j, bx, by in pts
            if j != i and (x - bx) ** 2 + (y - by) ** 2 <= 144.0
        )
        for rk, (d, j) in enumerate(cand[:2], start=1):
            want[(i, rk)] = (j, d)
    assert got == want
    assert not any(a == 900 for a, _ in got)


# ------------------------------------------------ personalized pagerank
def test_ppr_hand_chain_exact(spark):
    """Seed -> a -> b chain with a side seed: replay the integer
    recurrence by hand and require exact equality."""
    from neotree_data_pipeline_kedro_spark.operators.components import (
        personalized_pagerank,
    )

    # graph: 100 -> 1 -> 2, 200 -> 1 ; seeds {100, 200}
    edges = [(100, 1), (1, 2), (200, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(100,), (200,)], "v bigint")
    got = {
        r.node: r.ppr_nano
        for r in personalized_pagerank(df, seeds, iterations=2).collect()
    }
    base = 1_000_000_000 // 2
    # iteration 1: inflow(1) = base//1 + base//1 ; inflow(2) = 0 (r0(1)=0)
    r1 = {
        100: (150 * base) // 1000,
        200: (150 * base) // 1000,
        1: (850 * (base + base)) // 1000,
        2: 0,
    }
    # iteration 2: inflow(1) = r1[100] + r1[200]; inflow(2) = r1[1]
    r2 = {
        100: (150 * base) // 1000,
        200: (150 * base) // 1000,
        1: (150 * 0 + 850 * (r1[100] + r1[200])) // 1000,
        2: (850 * r1[1]) // 1000,
    }
    expect = {k: v for k, v in r2.items() if v > 0}
    assert got == expect


def test_ppr_empty_seeds_raises(spark):
    import pytest as _pytest

    from neotree_data_pipeline_kedro_spark.operators.components import (
        personalized_pagerank,
    )

    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([], "v bigint")
    with _pytest.raises(ValueError):
        personalized_pagerank(df, seeds)


# ------------------------------------------------ modularity (hand graph)
def test_modularity_formula_hand_check(spark):
    """4-node graph, 2 communities; compare against the textbook
    Q = sum_c (e_c/m - (d_c/2m)^2) computed by hand."""
    # edges: (1-2) within A, (3-4) within B, (2-3) across
    # m=3; A: e=1, d=1+2=3 ; B: e=1, d=2+1=3
    # Q_c = 1/3 - (3/6)^2 = 1/3 - 1/4 = 1/12 each
    edges = [(1, 2), (3, 4), (2, 3)]
    comm = {1: 10, 2: 10, 3: 20, 4: 20}
    from pyspark.sql import functions as SF

    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    m = 3
    cdf = spark.createDataFrame(list(comm.items()), "node bigint, c bigint")
    deg = (
        e.select(SF.col("src").alias("node"))
        .unionAll(e.select(SF.col("dst").alias("node")))
        .groupBy("node").agg(SF.count("*").cast("bigint").alias("degree"))
    )
    dc = (deg.join(cdf, "node").groupBy("c")
          .agg(SF.sum("degree").cast("bigint").alias("d_c")))
    ec = (
        e.join(cdf.select(SF.col("node").alias("src"), SF.col("c").alias("ca")), "src")
        .join(cdf.select(SF.col("node").alias("dst"), SF.col("c").alias("cb")), "dst")
        .filter("ca = cb").groupBy(SF.col("ca").alias("c"))
        .agg(SF.count("*").cast("bigint").alias("e_in"))
    )
    rows = (
        dc.join(ec, "c", "left")
        .select(
            "c",
            ((4 * m * SF.coalesce("e_in", SF.lit(0)) - SF.col("d_c") * SF.col("d_c"))
             .cast("double") / float(4 * m * m)).alias("q"),
        )
        .collect()
    )
    got = {r["c"]: r["q"] for r in rows}
    assert abs(got[10] - 1 / 12) < 1e-12 and abs(got[20] - 1 / 12) < 1e-12


def test_modularity_registry_sums_in_range(spark):
    from neotree_data_pipeline_kedro_spark.plans.queries import QUERIES
    from conftest import SF_SMOKE

    rows = QUERIES["g13_modularity"](spark, SF_SMOKE).collect()
    q = sum(r["q_contrib"] for r in rows)
    assert -0.5 <= q <= 1.0  # modularity range
    # bipartite disjoint id spaces: no within-community edge can exist
    # unless supplier and customer share a nation key - e_in may be > 0;
    # but degrees must all be positive
    assert all(r["d_c"] > 0 for r in rows)


# ------------------------------------------------ bitmap retention
def test_bitmap_retention_hand_days(spark):
    from neotree_data_pipeline_kedro_spark.operators.incremental_agg import (
        bitmap_distinct_state,
    )
    from pyspark.sql import functions as SF

    # day0: {1, 63, 64}; day1: {63, 64, 128, 2}; day2: {2}
    rows = [(0, 1), (0, 63), (0, 64), (1, 63), (1, 64), (1, 128), (1, 2), (2, 2)]
    df = spark.createDataFrame(rows, "day int, user_id bigint")
    state = bitmap_distinct_state(df, "day", "user_id").localCheckpoint()
    nxt = state.select((SF.col("day") - 1).alias("day"), "__word",
                       SF.col("__bits").alias("__bits_next"))
    days = state.select("day").distinct()
    pairs = days.join(days.select((SF.col("day") - 1).alias("day")), "day")
    out = {
        r["day"]: (r["retained"], r["churned"], r["n_new"])
        for r in (
            state.join(nxt, ["day", "__word"], "full")
            .join(pairs, "day")
            .groupBy("day")
            .agg(
                SF.sum(SF.expr(
                    "bit_count(coalesce(__bits,0) & coalesce(__bits_next,0))"
                )).cast("bigint").alias("retained"),
                SF.sum(SF.expr(
                    "bit_count(coalesce(__bits,0) & ~coalesce(__bits_next,0))"
                )).cast("bigint").alias("churned"),
                SF.sum(SF.expr(
                    "bit_count(coalesce(__bits_next,0) & ~coalesce(__bits,0))"
                )).cast("bigint").alias("n_new"),
            )
            .collect()
        )
    }
    assert out == {0: (2, 1, 2), 1: (1, 3, 0)}


# ------------------------------------------------ histogram quantiles
def test_histogram_quantile_error_bound_and_merge(spark):
    """Estimate within one bucket width of the exact percentile, and the
    state merges: hist(first half) + hist(second half) == hist(all)."""
    from neotree_data_pipeline_kedro_spark.operators.frequency import (
        histogram_quantile,
        histogram_state,
    )
    from pyspark.sql import functions as SF

    df = spark.range(10_000).select(
        (SF.col("id") % 3).alias("g"),
        ((SF.col("id") * 37) % 1000).cast("double").alias("v"),
    )
    lo, hi, buckets = 0.0, 999.0, 64
    width = (hi - lo) / buckets
    state = histogram_state(df, "g", "v", lo, hi, buckets)
    for q_num, q_den, q in ((1, 2, 0.5), (9, 10, 0.9)):
        est = {
            r["g"]: r["est"]
            for r in histogram_quantile(
                state, "g", q_num, q_den, lo, hi, buckets
            ).collect()
        }
        exact = {
            r["g"]: r["p"]
            for r in df.groupBy("g")
            .agg(SF.percentile("v", SF.lit(q)).alias("p"))
            .collect()
        }
        for g in exact:
            assert abs(est[g] - exact[g]) <= width + 1e-9, (q, g)
    # mergeability
    a = histogram_state(df.filter("id % 2 = 0"), "g", "v", lo, hi, buckets)
    b = histogram_state(df.filter("id % 2 = 1"), "g", "v", lo, hi, buckets)
    merged = {
        (r["g"], r["bucket"]): r["cnt"]
        for r in a.unionByName(b)
        .groupBy("g", "bucket")
        .agg(SF.sum("cnt").cast("bigint").alias("cnt"))
        .collect()
    }
    whole = {(r["g"], r["bucket"]): r["cnt"] for r in state.collect()}
    assert merged == whole


# ------------------------------------------------ distributed BPE training
def _py_bpe_train(word_counts, num_merges, min_pair_count=2):
    """Independent pure-Python BPE twin (word-frequency formulation)."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for rank in range(num_merges):
        pairs = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] = pairs.get((sym[i], sym[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), pc = best
        if pc < min_pair_count:
            break
        merges.append((rank, a, b, pc))
        new_vocab = {}
        for sym, c in vocab.items():
            res, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_train_matches_python_twin(spark):
    from collections import Counter

    from neotree_data_pipeline_kedro_spark.operators.langid import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "low lower newest widest wide wide wide",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    wc = Counter(w for t in texts for w in t.split())
    want = _py_bpe_train(wc, 8)
    # both paths: driver-side merge loop (default) and the distributed
    # rounds (forced with local_threshold=0)
    for thr in (100_000, 0):
        got = [
            (r["rank"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train(
                df, "doc_id", "text", num_merges=8, local_threshold=thr
            )
            .orderBy("rank")
            .collect()
        ]
        assert got == want, f"local_threshold={thr}"
    # sanity: the classic example learns 'est</w>' pieces eventually
    merged_tokens = {l + r for _, l, r, _ in got}
    assert any("es" in m or "est" in m for m in merged_tokens)


def test_bpe_train_early_stop_on_min_count(spark):
    from neotree_data_pipeline_kedro_spark.operators.langid import bpe_train

    df = spark.createDataFrame([(1, "ab cd ef")], "doc_id bigint, text string")
    out = bpe_train(df, "doc_id", "text", num_merges=5, min_pair_count=2).collect()
    assert out == []  # every pair occurs once -> stops before merge 0


# ------------------------------------------------ ridge quality probe
def test_ridge_probe_matches_numpy_twin(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.probe import (
        linear_score,
        normal_equation_sums,
        ridge_probe_train,
    )

    # integer features with a separable signal: y = 1 iff f1 > 5
    rows = [(i, i % 10, (i * 3) % 7, 1 if i % 10 > 5 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, f1 long, f2 long, y long")
    A, b, n = normal_equation_sums(df, ["f1", "f2"], "y")
    X = np.array([[1, r[1], r[2]] for r in rows], dtype=np.float64)
    Y = np.array([r[3] for r in rows], dtype=np.float64)
    assert n == 200
    assert np.array_equal(A, X.T @ X)
    assert np.array_equal(b, X.T @ Y)
    w = ridge_probe_train(df, ["f1", "f2"], "y", l2=1.0)
    reg = np.eye(3); reg[0, 0] = 0.0
    w_np = np.linalg.solve(X.T @ X + reg, X.T @ Y)
    assert np.allclose(w, w_np, rtol=0, atol=1e-12)
    # scoring: per-row x.w reproduced and the probe separates the classes
    scores = {
        r["id"]: r["s"]
        for r in df.select("id", linear_score(["f1", "f2"], w).alias("s")).collect()
    }
    for i, f1, f2, y in rows:
        assert abs(scores[i] - (w[0] + w[1] * f1 + w[2] * f2)) < 1e-12
    pos = [scores[i] for i, f1, _, y in rows if y == 1]
    neg = [scores[i] for i, f1, _, y in rows if y == 0]
    assert min(pos) > max(neg)  # linearly separable in f1


# ------------------------------------------------ Allen interval algebra
def test_allen_relation_all_thirteen(spark):
    from neotree_data_pipeline_kedro_spark.operators.joins import (
        allen_relation,
    )

    cases = [
        (0, 2, 5, 9, "precedes"),
        (5, 9, 0, 2, "preceded_by"),
        (0, 5, 5, 9, "meets"),
        (5, 9, 0, 5, "met_by"),
        (3, 7, 3, 7, "equals"),
        (3, 5, 3, 7, "starts"),
        (3, 9, 3, 7, "started_by"),
        (5, 7, 3, 7, "finishes"),
        (1, 7, 3, 7, "finished_by"),
        (4, 6, 3, 7, "during"),
        (2, 9, 3, 7, "contains"),
        (1, 5, 3, 7, "overlaps"),
        (5, 9, 3, 7, "overlapped_by"),
    ]
    df = spark.createDataFrame(
        [(a, b, c, d, want) for a, b, c, d, want in cases],
        "as_ int, ae int, bs int, be int, want string",
    )
    rows = df.select(
        "want",
        allen_relation(
            F.col("as_"), F.col("ae"), F.col("bs"), F.col("be")
        ).alias("got"),
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["want"], r["got"])


# ------------------------------------------------ Mann-Whitney U / AUC
def test_mannwhitney_hand_values(spark):
    """Tiny two-sample case replayed by hand, including a tie."""
    from neotree_data_pipeline_kedro_spark.operators.windows import (
        global_prefix_scan,
    )
    from pyspark.sql import functions as SF
    import itertools

    xs = [1.0, 3.0, 5.0, 5.0]   # group F
    ys = [2.0, 5.0, 6.0]        # group O
    rows = [(v, "F") for v in xs] + [(v, "O") for v in ys]
    df = spark.createDataFrame(rows, "val double, g string")
    h = df.groupBy("val").agg(
        SF.sum(SF.when(SF.col("g") == "F", 1).otherwise(0)).cast("bigint").alias("c1"),
        SF.sum(SF.when(SF.col("g") == "O", 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    c = global_prefix_scan(h, ["val"], "c2", cum_col="cum2")
    row = c.agg(
        SF.sum(SF.col("c1") * (2 * SF.col("cum2") - SF.col("c2"))).alias("u1_x2")
    ).first()
    # brute force: 2*U1 = sum over pairs of 2*[x>y] + 1*[x==y]
    u1_x2 = sum(
        2 if x > y else (1 if x == y else 0)
        for x, y in itertools.product(xs, ys)
    )
    assert row["u1_x2"] == u1_x2
