"""Unit coverage for the session-7 operators: Markov transitions, CUSUM
drift monitor, activity Gini, crawl-frontier schedule, token-overlap F1,
bipartite HITS, label-centroid cohesion report."""

import datetime

import pytest
from pyspark.sql import functions as F

from lightrag_spark.evaluation.tokenf1 import token_f1_pairs
from lightrag_spark.operators import datapipe as dp
from lightrag_spark.operators.graphs import hits_bipartite


def _ts(day, hour=0, minute=0):
    return datetime.datetime(2024, 3, day, hour, minute)


def test_markov_transitions_counts_and_probs(spark):
    # user 1: a -> b -> a -> b ; user 2: a -> a  (cross-user pairs must NOT
    # count: last event of user 1 has no successor)
    rows = [
        (1, _ts(1, 1), 10, "a"),
        (1, _ts(1, 2), 11, "b"),
        (1, _ts(1, 3), 12, "a"),
        (1, _ts(1, 4), 13, "b"),
        (2, _ts(1, 5), 14, "a"),
        (2, _ts(1, 6), 15, "a"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r["from_type"], r["to_type"]): r for r in dp.markov_transitions(ev).collect()}
    assert out[("a", "b")]["n"] == 2
    assert out[("b", "a")]["n"] == 1
    assert out[("a", "a")]["n"] == 1
    # from 'a': 3 transitions total -> p(a->b)=2/3 quantized
    assert out[("a", "b")]["prob"] == pytest.approx(0.6667)
    assert out[("b", "a")]["prob"] == 1.0
    assert ("b", "b") not in out


def test_markov_ties_broken_by_event_id(spark):
    # two events at the identical timestamp: order must follow event_id
    rows = [(1, _ts(1), 1, "x"), (1, _ts(1), 2, "y"), (1, _ts(2), 3, "z")]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r["from_type"], r["to_type"]) for r in dp.markov_transitions(ev).collect()}
    assert out == {("x", "y"), ("y", "z")}


def _cusum_reference(counts):
    """Direct S_i = max(0, S_{i-1} + dev_i) recursion in integer units."""
    d, total = len(counts), sum(counts)
    s, out = 0, []
    for x in counts:
        s = max(0, s + (x * d - total))
        out.append(s)
    return out


def test_cusum_closed_form_equals_recursion(spark):
    # a ramp with a burst: the closed-form prefix-min trick must equal the
    # direct recursion on every prefix
    counts = [5, 5, 5, 40, 5, 5, 60, 60, 5, 5]
    rows = []
    for day, n in enumerate(counts, start=1):
        rows += [(_ts(day), "t")] * n
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {
        r["day"].day: r for r in dp.cusum_daily(ev).collect()
    }
    ref = _cusum_reference(counts)
    for day, expect in enumerate(ref, start=1):
        assert got[day]["cusum_fp"] == expect
    # alarm fires exactly where cumulative excess > 2 * total
    total = sum(counts)
    for day, expect in enumerate(ref, start=1):
        assert got[day]["alarm"] == (expect > 2 * total)
    # the burst days must alarm, the early flat days must not
    assert not got[1]["alarm"] and got[8]["alarm"]


def test_gini_uniform_and_concentrated(spark):
    # uniform: 4 users x 5 events each -> G = 0
    rows = [(u, "flat") for u in range(4) for _ in range(5)]
    # concentrated: user 0 has 97 events, three others 1 each
    rows += [(0, "skew")] * 97 + [(1, "skew"), (2, "skew"), (3, "skew")]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["event_type"]: r for r in dp.activity_gini(ev).collect()}
    assert out["flat"]["gini"] == 0.0
    assert out["flat"]["n_users"] == 4 and out["flat"]["total_events"] == 20
    # exact rank formula: x=(1,1,1,97) -> G=(2*(1+2+3+4*97)-5*100)/(4*100)
    assert out["skew"]["gini"] == pytest.approx((2 * (1 + 2 + 3 + 4 * 97) - 500) / 400)


def test_crawl_schedule_politeness_and_sharding(spark):
    rows = [(i, "h" + str(i % 3)) for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = dp.crawl_schedule(docs, delay_s=10, workers=2).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["doc_id"])
        # doc_id order -> consecutive slots, delay_s apart
        assert [r["slot"] for r in rs] == [0, 1, 2]
        assert [r["fetch_offset_s"] for r in rs] == [0, 10, 20]
        # one worker owns the whole host
        assert len({r["worker"] for r in rs}) == 1
    # hosts h0,h1,h2 in name order -> workers 0,1,0
    assert [by_host["h" + str(k)][0]["worker"] for k in range(3)] == [0, 1, 0]


def test_token_f1_hand_computed(spark):
    pairs = spark.createDataFrame(
        [
            (1, 1, ["a", "b", "b", "c"], ["a", "b", "d"]),   # overlap 2
            (2, 2, ["x", "y"], ["x", "y"]),                   # exact match
            (3, 3, ["p"], ["q"]),                             # disjoint
        ],
        "cand_id long, ref_id long, cand_tokens array<string>, "
        "ref_tokens array<string>",
    )
    out = {r["cand_id"]: r for r in token_f1_pairs(pairs).collect()}
    # clipped: min(2,1) for 'b' clips to 1 -> overlap = a(1)+b(1) = 2
    assert out[1]["overlap"] == 2
    assert out[1]["precision"] == 0.5
    assert out[1]["recall"] == pytest.approx(0.6667)
    assert out[1]["f1"] == pytest.approx(round(2 * 2 / 7, 4), abs=1e-9)
    assert out[2]["precision"] == out[2]["recall"] == out[2]["f1"] == 1.0
    assert out[3]["overlap"] == 0 and out[3]["f1"] == 0.0


def test_hits_bipartite_matches_float_reference(spark):
    # chunk c1 mentions {e1,e2,e3}; c2 {e1,e2}; c3 {e1}: authority must
    # order e1 > e2 > e3 and track the float HITS fixpoint closely
    edges = [
        ("c1", "e1"), ("c1", "e2"), ("c1", "e3"),
        ("c2", "e1"), ("c2", "e2"),
        ("c3", "e1"),
    ]
    m = spark.createDataFrame(edges, "chunk_id string, entity_name string")
    out = {r["entity_name"]: r for r in hits_bipartite(m, iterations=4).collect()}
    assert out["e1"]["authority"] > out["e2"]["authority"] > out["e3"]["authority"]
    # L1 normalization: auth_fp sums to ~scale (floor leak < n units)
    total = sum(r["auth_fp"] for r in out.values())
    assert 10**6 - 3 <= total <= 10**6

    # float reference recursion with L1 normalization
    import collections

    h = {c: 1.0 for c, _ in edges}
    by_c = collections.defaultdict(list)
    by_e = collections.defaultdict(list)
    for c, e in edges:
        by_c[c].append(e)
        by_e[e].append(c)
    a = {}
    for _ in range(4):
        a = {e: sum(h[c] for c in cs) for e, cs in by_e.items()}
        at = sum(a.values())
        a = {e: v / at for e, v in a.items()}
        h = {c: sum(a[e] for e in es) for c, es in by_c.items()}
        ht = sum(h.values())
        h = {c: v / ht for c, v in h.items()}
    for e, v in a.items():
        assert out[e]["authority"] == pytest.approx(v, abs=1e-4)


def test_hits_bipartite_empty_mentions(spark):
    # same contract as pagerank_fixedpoint on an empty graph: 0 rows
    m = spark.createDataFrame([], "chunk_id string, entity_name string")
    out = hits_bipartite(m, iterations=4)
    assert out.columns == ["entity_name", "auth_fp", "authority"]
    assert out.count() == 0


def test_label_centroids_cohesion(spark):
    # label 0: four identical vectors -> cohesion exactly 1.0, norm = |v|
    # label 1: two opposite vectors -> centroid ~0, cohesion ~0
    v = [0.3, -0.4, 0.0, 0.1]
    rows = [(i, v, 0) for i in range(4)]
    rows += [(10, [0.2, 0.2, 0.2, 0.2], 1), (11, [-0.2, -0.2, -0.2, -0.2], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in dp.label_centroids(emb).collect()}
    assert out[0]["n"] == 4 and out[1]["n"] == 2
    assert out[0]["mean_intra_cos"] == pytest.approx(1.0, abs=1e-3)
    assert out[0]["centroid_norm"] == pytest.approx(0.5099, abs=1e-3)
    assert out[1]["centroid_norm"] == pytest.approx(0.0, abs=1e-3)
    assert abs(out[1]["mean_intra_cos"]) <= 0.01


def test_knn_with_votes_column(spark):
    from lightrag_spark.operators import ann

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(64)], i % 3) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann.knn_label_vote_lsh(emb, with_votes=True).collect()
    assert out, "expected some non-isolate queries"
    for r in out:
        assert 1 <= r["votes"] <= 5
        assert r["correct"] == (r["predicted_label"] == r["actual_label"])
    # default column set unchanged (the gated query's schema)
    plain = ann.knn_label_vote_lsh(emb).columns
    assert plain == ["vec_id", "actual_label", "predicted_label", "correct"]


def test_ktruss_peels_pendant_triangle(spark):
    from lightrag_spark.operators.graphs import ktruss_edges

    # K4 on {a,b,c,d} (every edge in 2 triangles) + a pendant triangle
    # {a,x,y} (support 1 each) + a lone chain edge (support 0)
    k4 = [(u, v) for i, u in enumerate("abcd") for v in "abcd"[i + 1:]]
    extra = [("a", "x"), ("a", "y"), ("x", "y"), ("y", "z")]
    e = spark.createDataFrame(k4 + extra, "src string, tgt string")
    out = {(r["src"], r["tgt"]): r["support"] for r in ktruss_edges(e, k=4).collect()}
    assert set(out) == {tuple(sorted(p)) for p in k4}
    assert all(s == 2 for s in out.values())


def test_ktruss_cascading_rounds(spark):
    from lightrag_spark.operators.graphs import ktruss_edges

    # two triangles sharing edge (a,b): shared edge support 2, others 1.
    # k=4 drops the four outer edges in round 1, which starves (a,b) in
    # round 2 -> empty truss only after a genuine multi-round cascade.
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")],
        "src string, tgt string",
    )
    assert ktruss_edges(e, k=4).count() == 0
    # k=3 keeps both triangles intact
    assert ktruss_edges(e, k=3).count() == 5


def test_ktruss_nonconvergence_raises(spark):
    from lightrag_spark.operators.graphs import ktruss_edges

    # the cascading graph above peels in two rounds and confirms in a
    # third: max_iter=1 must fail loud, not return a half-peeled truss
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")],
        "src string, tgt string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        ktruss_edges(e, k=4, max_iter=1)


def test_ktruss_validates_k(spark):
    from lightrag_spark.operators.graphs import ktruss_edges

    e = spark.createDataFrame([("a", "b")], "src string, tgt string")
    with pytest.raises(ValueError):
        ktruss_edges(e, k=2)


def test_hard_negatives_are_wrong_label_and_ranked(spark):
    from lightrag_spark.operators import ann

    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(64)], i % 2) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann.hard_negatives_lsh(emb).collect()
    assert out, "expected some hard negatives"
    by_q = {}
    for r in out:
        assert r["negative_label"] != r["label"]
        assert r["negative_id"] != r["vec_id"]
        by_q.setdefault(r["vec_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert len(rs) <= 5


def test_bot_signals_flags_metronome(spark):
    rows = []
    # bot: 30 'ping' events exactly 10s apart -> entropy 0, cv2 0
    t0 = datetime.datetime(2024, 3, 1)
    for i in range(30):
        rows.append((1, t0 + datetime.timedelta(seconds=10 * i), 100 + i, "ping"))
    # human: 30 events, mixed types, irregular gaps
    gaps = [3, 50, 7, 200, 1, 90, 15, 400, 2, 60] * 3
    t = datetime.datetime(2024, 3, 1, 0, 0, 0)
    for i, g in enumerate(gaps):
        t = t + datetime.timedelta(seconds=g)
        rows.append((2, t, 200 + i, "abcde"[i % 5]))
    # low-volume user: metronomic but only 6 events -> below volume floor
    t1 = datetime.datetime(2024, 3, 1, 1)
    for i in range(6):
        rows.append((3, t1 + datetime.timedelta(seconds=10 * i), 300 + i, "ping"))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r["user_id"]: r for r in dp.user_bot_signals(ev).collect()}
    assert out[1]["bot_like"] is True
    assert out[1]["entropy"] == 0.0 and out[1]["cv2"] == 0.0
    assert out[2]["bot_like"] is False
    assert out[2]["entropy"] > 1.0 and out[2]["cv2"] > 0.25
    assert out[3]["bot_like"] is False and out[3]["n_events"] == 6
    # users under min_events are excluded entirely
    few = spark.createDataFrame(
        [(9, datetime.datetime(2024, 3, 1), 1, "x")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    assert dp.user_bot_signals(few).count() == 0


def test_temperature_weights_rebalance(spark):
    import math

    # 90/10 split at T=0.7: small domain must be upsampled, large damped
    rows = [(i, "big") for i in range(90)] + [(i + 100, "small") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in dp.temperature_weights(docs).collect()}
    assert out["big"]["n_docs"] == 90 and out["small"]["n_docs"] == 10
    qb, qs = math.floor(90**0.7 * 1e6), math.floor(10**0.7 * 1e6)
    assert out["big"]["weight"] == pytest.approx(qb / (qb + qs), abs=2e-6)
    assert out["small"]["upsample_ratio"] > 1.0 > out["big"]["upsample_ratio"]
    # weights sum to ~1
    assert out["big"]["weight"] + out["small"]["weight"] == pytest.approx(1.0, abs=1e-5)
    # T=1 reduces to natural proportions
    flat = {r["source"]: r for r in dp.temperature_weights(docs, t_num=1, t_den=1).collect()}
    assert flat["big"]["upsample_ratio"] == pytest.approx(1.0, abs=1e-5)


def test_ql_topk_matches_python_reference(spark):
    import math

    texts = {
        0: "spark window merge shuffle",
        1: "spark shuffle spark merge",
        2: "window functions and frames",
        3: "merge sort merge join merge",
        4: "totally unrelated words here",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = dp.ql_topk(docs, n_queries=2, k=4, mu=10.0).collect()
    got = {(r["query_id"], r["doc_id"]): (r["score"], r["rank"]) for r in out}

    # pure-Python reference of the same decomposition
    toks = {d: t.split() for d, t in texts.items()}
    ctf = {}
    for ts in toks.values():
        for t in ts:
            ctf[t] = ctf.get(t, 0) + 1
    c = sum(ctf.values())
    scores = {}
    for q in (0, 1):
        qtf = {}
        for t in toks[q]:
            qtf[t] = qtf.get(t, 0) + 1
        for d, ts in toks.items():
            if d == q:
                continue
            tf = {}
            for t in ts:
                tf[t] = tf.get(t, 0) + 1
            shared = sorted(set(qtf) & set(tf))
            if not shared:
                continue
            s = 0.0
            for t in shared:
                s += qtf[t] * math.log(1 + tf[t] / (10.0 * (ctf[t] / c)))
            s -= len(toks[q]) * math.log((len(ts) + 10.0) / 10.0)
            scores[(q, d)] = round(s, 4)
    for key, expect in scores.items():
        assert got[key][0] == pytest.approx(expect, abs=2e-4), key
    # ranks descend by score
    for q in (0, 1):
        rs = sorted((r for r in out if r["query_id"] == q), key=lambda r: r["rank"])
        ss = [r["score"] for r in rs]
        assert ss == sorted(ss, reverse=True)


def test_assortativity_star_and_clique(spark):
    from lightrag_spark.operators.graphs import degree_assortativity

    star = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c")], "src string, tgt string"
    )
    r = degree_assortativity(star).collect()[0]
    assert r["n_nodes"] == 4 and r["n_edges"] == 3
    assert r["r"] == -1.0  # pure hub-and-spoke
    # regular graph (triangle): zero degree variance -> r defined as 0
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, tgt string"
    )
    assert degree_assortativity(tri).collect()[0]["r"] == 0.0


def test_conversion_attribution_touches(spark):
    t0 = datetime.datetime(2024, 3, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: view -> click -> purchase  (first=view, last=click)
        (1, at(1), 1, "view"), (1, at(2), 2, "click"), (1, at(3), 3, "purchase"),
        # user 1 buys again right after: last non-purchase touch still click
        (1, at(4), 4, "purchase"),
        # user 2: purchase with no prior events -> (direct), first=purchase
        (2, at(1), 5, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {
        (r["first_touch"], r["last_touch"]): r["n_conversions"]
        for r in dp.conversion_attribution(ev).collect()
    }
    assert out[("view", "click")] == 2
    assert out[("purchase", "(direct)")] == 1
    assert sum(out.values()) == 3


def test_conversion_latency_quantiles(spark):
    t0 = datetime.datetime(2024, 3, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        (1, at(0), 1, "view"), (1, at(100), 2, "purchase"),   # latency 100
        (2, at(0), 3, "view"), (2, at(300), 4, "purchase"),   # latency 300
        (3, at(0), 5, "purchase"),                             # latency 0
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r["q"]: r for r in dp.conversion_latency_quantiles(ev).collect()}
    assert all(r["n"] == 3 for r in out.values())
    # sorted latencies [0, 100, 300]: p50 -> rank ceil(1.5)=2 -> 100
    assert out[0.5]["value_at"] == 100
    assert out[0.9]["value_at"] == 300 and out[0.99]["value_at"] == 300


def test_dau_mau_stickiness(spark):
    rows = []
    # march: users 1,2 active on day 1; user 1 alone on day 2
    rows += [(1, datetime.datetime(2024, 3, 1, 5)), (2, datetime.datetime(2024, 3, 1, 6)),
             (1, datetime.datetime(2024, 3, 1, 7)),  # dup same day, not double-counted
             (1, datetime.datetime(2024, 3, 2, 5))]
    # april: one user, one day -> stickiness 1.0
    rows += [(9, datetime.datetime(2024, 4, 10, 1))]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {str(r["month"]): r for r in dp.dau_mau_stickiness(ev).collect()}
    m = out["2024-03-01"]
    assert m["mau"] == 2 and m["n_days"] == 2
    assert m["avg_dau"] == 1.5          # (2 + 1) / 2 days
    assert m["stickiness"] == 0.75      # 3 / (2 days * 2 users)
    assert out["2024-04-01"]["stickiness"] == 1.0


def test_label_separation_orthogonal_vs_aligned(spark):
    # label 0 along +x, label 1 along -x (cos -1), label 2 along +y (cos 0)
    rows = [
        (0, [0.4, 0.0, 0.0, 0.0], 0), (1, [0.4, 0.0, 0.0, 0.0], 0),
        (2, [-0.4, 0.0, 0.0, 0.0], 1), (3, [-0.4, 0.0, 0.0, 0.0], 1),
        (4, [0.0, 0.4, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["label_a"], r["label_b"]): r["cos"] for r in dp.label_separation(emb).collect()}
    assert out[(0, 1)] == pytest.approx(-1.0, abs=1e-3)
    assert out[(0, 2)] == pytest.approx(0.0, abs=1e-3)
    assert out[(1, 2)] == pytest.approx(0.0, abs=1e-3)


def test_host_report_purity_and_dup_rate(spark):
    rows = [
        (1, "aaaa", "en", "h1"), (2, "aaaa", "en", "h1"),   # exact dup pair
        (3, "bbbbbbbb", "de", "h1"),
        (4, "cc", "en", "h2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r["host"]: r for r in dp.host_report(docs).collect()}
    h1 = out["h1"]
    assert h1["n_docs"] == 3
    assert h1["major_lang"] == "en" and h1["lang_purity"] == pytest.approx(0.6667)
    assert h1["dup_rate"] == pytest.approx(1 - 2 / 3, abs=1e-4)
    assert h1["mean_chars"] == pytest.approx((4 + 4 + 8) / 3, abs=1e-4)
    assert out["h2"]["dup_rate"] == 0.0 and out["h2"]["lang_purity"] == 1.0


def test_training_triplets_structure(spark):
    from lightrag_spark.operators import ann

    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(64)], i % 2) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    trips = ann.training_triplets_lsh(emb).collect()
    assert trips, "expected some triplets"
    labels = {r[0]: r[2] for r in rows}
    for t in trips:
        assert labels[t["pos_id"]] == t["label"]
        assert labels[t["neg_id"]] != t["label"]
        assert t["pos_id"] != t["vec_id"]
        assert t["margin"] == pytest.approx(t["pos_sim"] - t["neg_sim"], abs=1e-4)


def test_ab_test_report_detects_planted_lift(spark):
    rows = []
    # variant A (k even): 300 events, 150 purchases; B (k odd): 300, 30
    for i in range(300):
        rows.append(('{"k": 2}', "purchase" if i < 150 else "view"))
        rows.append(('{"k": 3}', "purchase" if i < 30 else "view"))
    ev = spark.createDataFrame(rows, "props string, event_type string")
    r = dp.ab_test_report(ev).collect()[0]
    assert r["n_a"] == 300 and r["conv_a"] == 150 and r["rate_a"] == 0.5
    assert r["n_b"] == 300 and r["conv_b"] == 30 and r["rate_b"] == 0.1
    assert r["z"] > 1.96 and r["significant"] is True
    # balanced split -> not significant
    flat = spark.createDataFrame(
        [('{"k": 0}', "purchase"), ('{"k": 1}', "purchase"),
         ('{"k": 0}', "view"), ('{"k": 1}', "view")] * 10,
        "props string, event_type string",
    )
    assert dp.ab_test_report(flat).collect()[0]["significant"] is False


def test_knn_mrr_report(spark):
    from lightrag_spark.operators import ann

    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(64)], i % 2) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann.knn_mrr_report(emb).collect()
    assert out
    # one mrr value repeated on all rows; fractions sum to 1
    assert len({r["mrr"] for r in out}) == 1
    assert sum(r["frac"] for r in out) == pytest.approx(1.0, abs=1e-3)
    # mrr equals the histogram-implied value
    nt = sum(r["n_queries"] for r in out)
    expect = sum(
        r["n_queries"] * (10000 // r["first_pos_rank"] if r["first_pos_rank"] else 0)
        for r in out
    )
    import math

    assert out[0]["mrr"] == math.floor(expect / nt + 0.5) / 10000.0


def test_k_anonymity_flags_small_classes(spark):
    rows = [(i, "s0", "en", 150) for i in range(10)]   # class of 10 -> safe
    rows += [(100, "s1", "de", 10)]                     # singleton -> risky
    docs = spark.createDataFrame(rows, "doc_id long, source string, lang string, n_chars long")
    out = {(r["source"], r["lang"], r["len_bucket"]): r for r in dp.k_anonymity_report(docs).collect()}
    assert out[("s0", "en", 1)]["class_size"] == 10
    assert out[("s0", "en", 1)]["risky"] is False
    assert out[("s1", "de", 0)]["risky"] is True


def test_lexical_diversity_values(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dp.lexical_diversity(docs).collect()}
    assert out[1]["ttr"] == 1.0 and out[1]["herdan_c"] == 1.0
    assert out[2]["ttr"] == 0.25
    assert out[2]["herdan_c"] == 0.0  # ln(1)/ln(4) = 0
    assert out[3]["n_tokens"] == 1 and out[3]["herdan_c"] == 0.0
    docs2 = spark.createDataFrame([(4, "a b a b c")], "doc_id long, text string")
    r = dp.lexical_diversity(docs2).collect()[0]
    assert r["herdan_c"] == pytest.approx(
        math.floor(math.log(3) / math.log(5) * 1e4 + 0.5) / 1e4
    )


def test_session_type_affinity_lift(spark):
    t0 = datetime.datetime(2024, 3, 1)

    def at(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # user 1, session 1: a+b together; session 2 (gap > 30m): a alone
        (1, at(0), 1, "a"), (1, at(1), 2, "b"), (1, at(60), 3, "a"),
        # user 2, one session: a+b together again
        (2, at(0), 4, "a"), (2, at(2), 5, "b"),
        # user 3, one session: c alone
        (3, at(0), 6, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {(r["type_a"], r["type_b"]): r for r in dp.session_type_affinity(ev).collect()}
    ab = out[("a", "b")]
    # 4 sessions total; a in 3, b in 2, together in 2 -> lift = 2*4/(3*2)
    assert ab["n_sessions"] == 4 and ab["n_a"] == 3 and ab["n_b"] == 2
    assert ab["lift"] == pytest.approx(2 * 4 / 6, abs=1e-4)
    assert ("a", "c") not in out  # never co-occur


def test_hourly_autocorr_periodic_signal(spark):
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    # 'tide': perfect 24h period over 10 days (counts 1..4 repeating per 6h
    # block) -> r(24h) = 1; 'noise': single burst, no lag-24 structure
    for day in range(10):
        for hour in range(24):
            c = (hour // 6) + 1
            for _ in range(c):
                rows.append((t0 + datetime.timedelta(days=day, hours=hour), "tide"))
    rows += [(t0 + datetime.timedelta(hours=h), "noise") for h in (0, 1)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {(r["event_type"], r["lag_hours"]): r for r in dp.hourly_autocorr(ev).collect()}
    assert out[("tide", 24)]["r"] == 1.0
    assert out[("tide", 24)]["n_pairs"] == 9 * 24
    # weekly lag over 10 days: 3 days of pairs, still perfectly periodic
    assert out[("tide", 168)]["r"] == 1.0
    # constant/degenerate series defines r = 0
    assert out.get(("noise", 24), {"r": 0.0})["r"] == 0.0


def test_daily_new_users_split(spark):
    d1, d2 = datetime.datetime(2024, 3, 1, 5), datetime.datetime(2024, 3, 2, 5)
    rows = [(1, d1), (2, d1), (1, d2), (3, d2), (1, d2)]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {str(r["day"]): r for r in dp.daily_new_users(ev).collect()}
    a, b = out["2024-03-01"], out["2024-03-02"]
    assert a["n_new"] == 2 and a["n_returning"] == 0 and a["new_share"] == 1.0
    assert b["n_new"] == 1 and b["n_returning"] == 1 and b["new_share"] == 0.5


def test_ngram_coverage_template_mass(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox the quick brown fox"),
         (2, "the quick brown cat")],
        "doc_id long, text string",
    )
    out = sorted(dp.ngram_coverage(docs).collect(), key=lambda r: r["rank"])
    # 'the quick brown' occurs 3x - the top gram
    assert out[0]["gram"] == "the quick brown" and out[0]["n_occ"] == 3
    # cum_share is non-decreasing and ends at 1.0 (few distinct grams)
    cums = [r["cum_share"] for r in out]
    assert cums == sorted(cums) and cums[-1] == pytest.approx(1.0, abs=1e-3)
    # ranks are 1..k and shares sum to cum_share
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_token_budget_savings(spark):
    rows = [
        (1, "one two three", "s0"), (2, "one two three", "s0"),  # dup: 3 tokens wasted
        (3, "four five", "s0"),
        (4, "six", "s1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in dp.token_budget_report(docs).collect()}
    s0 = out["s0"]
    assert s0["n_docs"] == 3 and s0["unique_docs"] == 2
    assert s0["raw_tokens"] == 8 and s0["unique_tokens"] == 5
    assert s0["savings_ratio"] == pytest.approx(1 - 5 / 8)
    assert out["s1"]["savings_ratio"] == 0.0


def test_daily_error_rate_elevated_flag(spark):
    rows = []
    # day 1: 100 events, 2 errors (2%); day 2: 100 events, 20 errors (20%)
    for i in range(100):
        rows.append((datetime.datetime(2024, 3, 1, 1), "error" if i < 2 else "view"))
        rows.append((datetime.datetime(2024, 3, 2, 1), "error" if i < 20 else "view"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {str(r["day"]): r for r in dp.daily_error_rate(ev).collect()}
    # baseline 11%: day 1 not elevated, day 2 elevated only if > 22% -> False;
    # make a third day clearly above 2x baseline
    assert out["2024-03-01"]["error_rate"] == 0.02
    assert out["2024-03-01"]["elevated"] is False
    rows += [(datetime.datetime(2024, 3, 3, 1), "error")] * 50
    rows += [(datetime.datetime(2024, 3, 3, 1), "view")] * 50
    out = {str(r["day"]): r for r in dp.daily_error_rate(
        spark.createDataFrame(rows, "ts timestamp, event_type string")).collect()}
    assert out["2024-03-03"]["error_rate"] == 0.5
    assert out["2024-03-03"]["elevated"] is True


def test_degree_histogram_buckets(spark):
    from lightrag_spark.operators.graphs import degree_histogram

    # star: hub degree 5 (bucket 2), leaves degree 1 (bucket 0)
    e = spark.createDataFrame(
        [("h", f"l{i}") for i in range(5)], "src string, tgt string"
    )
    out = {r["bucket"]: r for r in degree_histogram(e).collect()}
    assert out[0]["n_nodes"] == 5 and out[0]["min_degree"] == 1
    assert out[2]["n_nodes"] == 1 and out[2]["max_degree"] == 5
    assert 1 not in out
