"""Differentials for operators/fraud_stats.py (Benford digit test,
trailing-window velocity flags) — pure-Python reimplementations on
planted data, exact-arithmetic edge cases."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
    BENFORD_P,
    benford_profile,
    velocity_flags,
)


class TestBenford:
    def test_expected_masses(self):
        assert len(BENFORD_P) == 9
        assert abs(sum(BENFORD_P) - 1.0) < 1e-12
        assert abs(BENFORD_P[0] - math.log10(2)) < 1e-15

    def test_hand_computed_counts_and_chi2(self, spark):
        # group 'a': amounts 1.00, 1.50, 19.99, 2.00 -> digits 1,1,1,2
        # group 'b': 9.00, 0.05 -> digits 9, 5 (0.05 = 5 cents)
        rows = [
            ("a", 1.00), ("a", 1.50), ("a", 19.99), ("a", 2.00),
            ("b", 9.00), ("b", 0.05),
            ("b", 0.0), ("b", -3.0),  # non-positive cents: excluded
        ]
        df = spark.createDataFrame(rows, "g string, amount double")
        out = benford_profile(df, "amount", "g").collect()
        assert len(out) == 18  # 2 groups x full digit spine
        got = {(r["g"], r["digit"]): r for r in out}
        assert got[("a", 1)]["n_obs"] == 3
        assert got[("a", 2)]["n_obs"] == 1
        assert got[("a", 3)]["n_obs"] == 0  # spine fills missing digits
        assert got[("a", 1)]["n_total"] == 4
        assert got[("b", 9)]["n_obs"] == 1 and got[("b", 5)]["n_obs"] == 1
        assert got[("b", 9)]["n_total"] == 2

        # python replica of the quantized chi-square for group 'a'
        def chi2(counts, total):
            s = 0
            for d in range(1, 10):
                e = float(total) * BENFORD_P[d - 1]
                dev = float(counts.get(d, 0)) - e
                s += math.floor(dev * dev / e * 1e9)
            return float(s) / 1e9

        assert got[("a", 1)]["chi2"] == chi2({1: 3, 2: 1}, 4)
        assert got[("b", 9)]["chi2"] == chi2({9: 1, 5: 1}, 2)
        # chi2 constant within a group
        assert len({r["chi2"] for r in out if r["g"] == "a"}) == 1

    def test_benford_conforming_sample_scores_low(self, spark):
        # draw 10k amounts whose leading digit EXACTLY follows Benford
        # via inverse-CDF on a deterministic grid -> tiny chi2; a
        # uniform-digit sample on the same grid scores far higher
        rng = random.Random(7)
        conforming, uniform = [], []
        cdf = [0.0]
        for p in BENFORD_P:
            cdf.append(cdf[-1] + p)
        for i in range(10000):
            u = (i + 0.5) / 10000
            d = max(j for j in range(1, 10) if cdf[j - 1] <= u)
            conforming.append(("c", float(d) * 10 ** rng.randrange(3)))
            uniform.append(("u", float(1 + i % 9) * 10 ** rng.randrange(3)))
        df = spark.createDataFrame(
            conforming + uniform, "g string, amount double"
        )
        rows = benford_profile(df, "amount", "g").collect()
        chi = {r["g"]: r["chi2"] for r in rows}
        assert chi["c"] < 1.0, chi
        assert chi["u"] > 100.0, chi


class TestVelocity:
    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )

    def test_brute_force_differential(self, spark):
        rng = random.Random(11)
        base = dt.datetime(2024, 1, 1)
        rows = []
        for eid in range(400):
            rows.append(
                (
                    eid,
                    rng.randrange(8),
                    base + dt.timedelta(seconds=rng.randrange(8000)),
                    round(rng.uniform(0.5, 300.0), 2),
                )
            )
        out = velocity_flags(
            self._mk(spark, rows),
            window_seconds=3600,
            count_threshold=3,
            cents_threshold=200_00,
        ).collect()
        got = {r["event_id"]: r for r in out}
        by_user: dict[int, list[tuple[int, int]]] = {}
        for eid, uid, ts, v in rows:
            s = int(ts.timestamp())
            by_user.setdefault(uid, []).append((s, int(round(v * 100)), eid))
        for uid, evs in by_user.items():
            for s, _c, eid in evs:
                peers = [(t, c) for t, c, _ in evs if s - 3600 <= t <= s]
                n, total = len(peers), sum(c for _, c in peers)
                r = got[eid]
                assert (r["n_trailing"], r["cents_trailing"]) == (n, total), eid
                assert r["velocity_flag"] == (n >= 3)
                assert r["spend_flag"] == (total >= 200_00)

    def test_same_second_ties_are_mutual_peers(self, spark):
        t = dt.datetime(2024, 5, 1, 12, 0, 0)
        rows = [
            (1, 7, t, 10.0),
            (2, 7, t, 20.0),  # same second: RANGE peers both ways
            (3, 7, t + dt.timedelta(seconds=3600), 30.0),  # still inside
            (4, 7, t + dt.timedelta(seconds=3601), 40.0),  # first two out
        ]
        out = {
            r["event_id"]: r
            for r in velocity_flags(self._mk(spark, rows)).collect()
        }
        assert out[1]["n_trailing"] == 2 and out[2]["n_trailing"] == 2
        assert out[1]["cents_trailing"] == 3000 == out[2]["cents_trailing"]
        assert out[3]["n_trailing"] == 3
        assert out[4]["n_trailing"] == 2  # event 3 and itself
        assert out[4]["cents_trailing"] == 7000


class TestStreaks:
    def test_hand_computed_islands(self, spark):
        import datetime as dt

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.changepoint import (
            longest_streaks,
        )

        base = dt.datetime(2024, 2, 1)
        # daily totals: 1, 2, 3, 2, 3, 4, 5, 5 ->
        # runs: [1,2,3] (len 3), [2,3,4,5] (len 4), [5] (len 1)
        vals = [1.0, 2.0, 3.0, 2.0, 3.0, 4.0, 5.0, 5.0]
        rows = [
            ("s", base + dt.timedelta(days=d), v) for d, v in enumerate(vals)
        ]
        # tie case: two record runs of len 2 -> earliest start wins
        tie = [5.0, 6.0, 1.0, 2.0, 1.0]
        rows += [
            ("t", base + dt.timedelta(days=d), v) for d, v in enumerate(tie)
        ]
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )
        got = {r["event_type"]: r for r in longest_streaks(df).collect()}
        s = got["s"]
        assert (s["n_days"], s["n_runs"], s["longest_run"]) == (8, 3, 4)
        assert s["longest_run_start"] == base + dt.timedelta(days=3)
        t = got["t"]
        assert (t["n_days"], t["n_runs"], t["longest_run"]) == (5, 3, 2)
        assert t["longest_run_start"] == base  # earliest of the two len-2 runs

    def test_equal_values_break_streaks(self, spark):
        import datetime as dt

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.changepoint import (
            longest_streaks,
        )

        base = dt.datetime(2024, 2, 1)
        rows = [
            ("c", base + dt.timedelta(days=d), 7.0) for d in range(6)
        ]  # constant: strictly-increasing runs are all singletons
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        )
        r = longest_streaks(df).collect()[0]
        assert (r["n_days"], r["n_runs"], r["longest_run"]) == (6, 6, 1)


class TestBurstiness:
    def test_bot_vs_bursty_and_python_replica(self, spark):
        import math
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            interevent_burstiness,
        )

        base = dt.datetime(2024, 6, 1)
        rows, eid = [], 0
        # bot: exactly every 60s -> sd=0, B = -1
        for i in range(20):
            rows.append((eid, 1, base + dt.timedelta(seconds=60 * i), 0.0))
            eid += 1
        # bursty human: tight bursts separated by long silences
        gaps_h = [1, 2, 1, 7200, 1, 3, 1, 10800, 2, 1]
        t = base
        rows.append((eid, 2, t, 0.0)); eid += 1
        for g in gaps_h:
            t = t + dt.timedelta(seconds=g)
            rows.append((eid, 2, t, 0.0)); eid += 1
        # below min_events: excluded
        rows += [(eid, 3, base, 0.0), (eid + 1, 3, base, 0.0)]
        eid += 2
        # all same second -> sigma = mu = 0 -> NULL B
        rows += [(eid + i, 4, base, 0.0) for i in range(5)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )
        got = {r["user_id"]: r for r in interevent_burstiness(df).collect()}
        assert 3 not in got
        assert got[1]["burstiness"] == -1.0
        assert got[1]["sd_gap_s"] == 0.0 and got[1]["mean_gap_s"] == 60.0
        assert got[4]["burstiness"] is None
        # python replica for the bursty user (pinned spelling)
        n = len(gaps_h)
        s, ss = sum(gaps_h), sum(g * g for g in gaps_h)
        mu = float(s) / float(n)
        sd = math.sqrt(float(n * ss - s * s)) / float(n)
        r = got[2]
        assert (r["n_events"], r["n_gaps"]) == (n + 1, n)
        assert r["mean_gap_s"] == mu and r["sd_gap_s"] == sd
        assert r["burstiness"] == (sd - mu) / (sd + mu)
        assert r["burstiness"] > 0.3  # bursty (B ≈ 0.39 for these gaps)


class TestFraudRiskReport:
    def test_composed_flags_fire_per_branch(self, spark):
        """The composed risk report's branches each fire on a user
        engineered to trip exactly that screen — bot_flag in
        particular is unreachable on the human-random driver data, so
        the combine logic for it is pinned here."""
        import datetime as dt

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.data_ops import (
            fraud_risk_report_events,
        )

        base = dt.datetime(2024, 3, 1, 12, 0, 0)
        rows = []
        eid = 1
        # user 1: metronome bot — constant 60s gaps, small amounts,
        # spread out so velocity windows stay quiet
        t = base
        for i in range(6):
            rows.append((eid, 1, t, 1.23))
            eid += 1
            t += dt.timedelta(seconds=3600 * 3)
        # re-do: constant gaps but INSIDE burstiness (60s) -> also
        # trips velocity count (>=3 events in an hour)
        # user 2: velocity burst — 4 events in 10 minutes
        t = base
        for i in range(4):
            rows.append((eid, 2, t, 2.0))
            eid += 1
            t += dt.timedelta(seconds=120)
        # user 3: big spender — two events, 300.00 total inside an hour
        rows.append((eid, 3, base, 150.0)); eid += 1
        rows.append((eid, 3, base + dt.timedelta(seconds=30), 151.0)); eid += 1
        # user 4: quiet — one modest event
        rows.append((eid, 4, base, 3.0)); eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )
        df = df.withColumn("event_type", F.lit("purchase")).withColumn(
            "props", F.lit("{}")
        )

        import os
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(os.path.join(d, "events.parquet"))
            rep = {
                r["user_id"]: r
                for r in fraud_risk_report_events(spark, d).collect()
            }
        # user 1: constant gaps -> B = -1 -> bot_flag; gaps 3h apart so
        # velocity windows hold one event each
        assert rep[1]["bot_flag"] and rep[1]["burstiness"] == -1.0
        assert rep[1]["n_velocity_events"] == 0
        assert rep[1]["risk_score"] == 2 and rep[1]["verdict"] == "review"
        # user 2: constant 120s gaps ALSO make it a bot; 4 events in
        # 10 min trip the count flag -> high
        assert rep[2]["n_velocity_events"] >= 2 and rep[2]["bot_flag"]
        assert rep[2]["verdict"] == "high"
        # user 3: spend flag only (30000 cents trailing), too few
        # events for burstiness
        assert rep[3]["n_spend_events"] >= 1
        assert rep[3]["burstiness"] is None and not rep[3]["bot_flag"]
        assert rep[3]["verdict"] == "review"
        # user 4: nothing fires
        assert rep[4]["risk_score"] == 0 and rep[4]["verdict"] == "ok"
        # benford never grounded at n < 30
        assert all(not r["benford_flag"] for r in rep.values())


class TestAmountStructuring:
    def test_hand_computed_flags(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            amount_structuring,
        )

        # entity 1: 5 amounts, 3 in the band [900, 1000) -> structuring
        # entity 2: 5 amounts, all whole-dollar -> round flag
        # entity 3: 5 plain amounts (base-rate ballast)
        # entity 4: only 2 amounts -> excluded by min_events
        rows = (
            [(1, 950.17), (1, 901.01), (1, 999.99), (1, 100.33), (1, 5.55)]
            + [(2, 7.00), (2, 13.00), (2, 150.00), (2, 12.00), (2, 44.00)]
            + [(3, 123.45), (3, 67.89), (3, 111.11), (3, 222.22), (3, 333.33)]
            + [(4, 950.01), (4, 7.00)]
        )
        df = spark.createDataFrame(rows, "k long, amount double")
        out = {
            r["k"]: r
            for r in amount_structuring(
                df,
                "k",
                "amount",
                threshold_cents=1000_00,
                band_frac=0.9,
                round_mod_cents=100,
                min_events=5,
                rate_mult=3,
                min_hits=2,
            ).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[1]["band_hits"] == 3 and out[1]["structuring_flag"]
        assert out[1]["band_frac"] == 3.0 / 5.0
        # entity 2: 5/5 round vs global 5/15 -> 5*15 >= 3*5*5 (75 >= 75)
        assert out[2]["round_hits"] == 5 and out[2]["round_flag"]
        assert not out[2]["structuring_flag"]
        assert out[3]["band_hits"] == 0 and not out[3]["structuring_flag"]
        assert not out[3]["round_flag"]

    def test_cross_multiply_boundary_exact(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            amount_structuring,
        )

        # Global: 10 amounts, 2 band hits. Entity A has 2/5 in band:
        # 2*10 >= 3*5*2 is 20 >= 30 -> False (rate only 2x base).
        rows = [(1, 950.0), (1, 951.0), (1, 1.0), (1, 2.0), (1, 3.0)] + [
            (2, 4.0), (2, 5.0), (2, 6.0), (2, 7.0), (2, 8.0)
        ]
        df = spark.createDataFrame(rows, "k long, amount double")
        out = {
            r["k"]: r
            for r in amount_structuring(
                df,
                "k",
                "amount",
                threshold_cents=1000_00,
                band_frac=0.9,
                round_mod_cents=100,
                min_events=5,
            ).collect()
        }
        assert out[1]["band_hits"] == 2 and not out[1]["structuring_flag"]


class TestDormancyReactivation:
    def test_hand_computed_gaps_and_flags(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            dormancy_reactivation,
        )

        d = dt.datetime
        rows = [
            # entity 1: day 0, day 10, day 100 (gap 90, big spend)
            (101, 1, d(2024, 1, 1), 50.0),
            (102, 1, d(2024, 1, 11), 60.0),
            (103, 1, d(2024, 4, 10), 5000.0),
            # entity 2: single event -> NULL gap, no flags
            (201, 2, d(2024, 3, 1), 9999.0),
            # entity 1bis same-day tie: ids decide the lag order
            (104, 1, d(2024, 4, 10), 1.0),
        ]
        df = spark.createDataFrame(rows, "eid long, k long, ts timestamp, v double")
        out = {
            r["eid"]: r
            for r in dormancy_reactivation(
                df, "k", "ts", "v", "eid", dormant_days=60, spend_cents=4000_00
            ).collect()
        }
        assert out[101]["gap_days"] is None and not out[101]["dormant_flag"]
        assert out[102]["gap_days"] == 10 and not out[102]["dormant_flag"]
        assert out[103]["gap_days"] == 90 and out[103]["dormant_flag"]
        assert out[103]["reactivation_flag"]  # 5000.00 >= 4000.00
        # same-day follower: gap 0 via id tiebreaker, never dormant
        assert out[104]["gap_days"] == 0 and not out[104]["dormant_flag"]
        assert out[201]["gap_days"] is None and not out[201]["reactivation_flag"]


class TestSharedCounterpartyPairs:
    def test_hand_computed_jaccard_and_cap(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs,
        )

        # entities 1,2 share {10,11,12} of degs 4 and 3 -> J = 3/4
        # entity 3 shares {10} with both -> below min_shared=2
        rows = [
            (1, 10), (1, 11), (1, 12), (1, 13),
            (2, 10), (2, 11), (2, 12),
            (3, 10), (3, 99),
            (1, 10),  # duplicate edge: distinct() collapses it
        ]
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        out = shared_counterparty_pairs(df, min_shared=2, top_k=10).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["entity_a"], r["entity_b"]) == (1, 2)
        assert r["n_shared"] == 3 and r["deg_a"] == 4 and r["deg_b"] == 3
        assert r["n_union"] == 4 and r["jaccard"] == 3.0 / 4.0

        # hub cap: counterparty 10 has degree 3 > 2 -> dropped before
        # the self-join; 1-2 still share {11,12} but degrees shrink
        capped = shared_counterparty_pairs(
            df, min_shared=2, top_k=10, max_counterparty_degree=2
        ).collect()
        assert len(capped) == 1
        c = capped[0]
        assert c["n_shared"] == 2 and c["deg_a"] == 3 and c["deg_b"] == 2
        assert c["jaccard"] == 2.0 / 3.0

    def test_topk_order_deterministic(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs,
        )

        # three entities all pairwise-identical sets -> equal jaccard,
        # order falls to the (entity_a, entity_b) tiebreaker
        rows = [(e, c) for e in (1, 2, 3) for c in (10, 11)]
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        out = shared_counterparty_pairs(df, min_shared=2, top_k=2).collect()
        assert [(r["entity_a"], r["entity_b"]) for r in out] == [(1, 2), (1, 3)]
        assert all(r["jaccard"] == 1.0 for r in out)


class TestCollusionCapAndReport:
    """VERDICT r12 item 1: the stop-counterparty cap ships ON in the
    registered screens, with the hub-report truncation twin."""

    # one hub (999) every entity pays, plus honest pairwise structure:
    # (1,2) share {10,11}; (5,6) share ONLY {999, 50} so the pair
    # qualifies uncapped (n_shared=2) but dies with the hub dropped
    _HUB_ROWS = (
        [(e, 999) for e in (1, 2, 3, 4, 5, 6)]
        + [(1, 10), (1, 11), (2, 10), (2, 11)]
        + [(5, 50), (6, 50), (3, 30), (4, 40)]
    )

    def test_cap_drops_hub_witnessed_pairs(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs,
        )

        df = spark.createDataFrame(
            self._HUB_ROWS, "entity long, counterparty long"
        )
        un = {
            (r["entity_a"], r["entity_b"])
            for r in shared_counterparty_pairs(df, min_shared=2, top_k=100).collect()
        }
        assert (5, 6) in un and (1, 2) in un
        capped = {
            (r["entity_a"], r["entity_b"]): r
            for r in shared_counterparty_pairs(
                df, min_shared=2, top_k=100, max_counterparty_degree=5
            ).collect()
        }
        # hub gone: (5,6) no longer shares 2; (1,2) survives on {10,11}
        assert set(capped) == {(1, 2)}
        r = capped[(1, 2)]
        # degrees exclude the dropped hub edge
        assert r["deg_a"] == 2 and r["deg_b"] == 2 and r["jaccard"] == 1.0

    def test_hub_report_flags_and_pair_accounting(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            counterparty_hub_report,
        )

        df = spark.createDataFrame(
            self._HUB_ROWS, "entity long, counterparty long"
        )
        rep = {
            r["counterparty"]: r
            for r in counterparty_hub_report(
                df, max_counterparty_degree=5, top_k=100
            ).collect()
        }
        hub = rep[999]
        assert hub["degree"] == 6 and hub["n_pairs_witnessed"] == 15
        assert hub["dropped"] and hub["n_pairs_avoided"] == 15
        for cp in (10, 11, 50):
            assert rep[cp]["degree"] == 2 and not rep[cp]["dropped"]
            assert rep[cp]["n_pairs_witnessed"] == 1
            assert rep[cp]["n_pairs_avoided"] == 0
        # dropped hubs lead the (degree desc) ordering by construction
        first = counterparty_hub_report(
            df, max_counterparty_degree=5, top_k=100
        ).collect()[0]
        assert first["counterparty"] == 999

    def test_registered_cap_is_a_noop_on_hub_free_driver_data(
        self, spark, sf_dir
    ):
        """Pins the docstring claim: supplier degree is SF-invariant
        (~600) so the shipped cap=2000 never bites on the driver
        tables — the capped registered query is bit-identical to the
        uncapped exact screen."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            queries,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
            read_table,
        )
        import pyspark.sql.functions as F

        got = queries()["collusion_pairs_customers"](spark, sf_dir).collect()
        o = read_table(spark, sf_dir, "orders")
        li = read_table(spark, sf_dir, "lineitem")
        edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.col("o_custkey").alias("entity"),
            F.col("l_suppkey").alias("counterparty"),
        )
        want = shared_counterparty_pairs(
            edges, min_shared=2, top_k=100, max_counterparty_degree=None
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


class TestCollusionLsh:
    def test_precision_one_and_recall_vs_exact(self, spark, sf_dir):
        """The LSH leg surfaces ONLY true (J >= 1/2, shared >= 2)
        pairs with exact-verified values (precision 1); recall is
        measured against the exact screen's thresholded output —
        deterministic (xxhash64 banding, no RNG), expected ~1 at
        j >= 0.5 with 32x2 bands (collision prob 1-(1-j^2)^32)."""
        import pyspark.sql.functions as F

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs,
            shared_counterparty_pairs_lsh,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
            read_table,
        )

        o = read_table(spark, sf_dir, "orders")
        li = read_table(spark, sf_dir, "lineitem")
        edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.col("o_custkey").alias("entity"),
            F.col("l_suppkey").alias("counterparty"),
        )
        exact = {
            (r["entity_a"], r["entity_b"]): tuple(r)
            for r in shared_counterparty_pairs(
                edges, min_shared=2, top_k=10**9
            ).collect()
            if 2 * r["n_shared"] >= r["n_union"]
        }
        got = {
            (r["entity_a"], r["entity_b"]): tuple(r)
            for r in shared_counterparty_pairs_lsh(
                edges, min_shared=2, jaccard_num=1, jaccard_den=2
            ).collect()
        }
        # precision 1: every surfaced pair is a true pair, values exact
        for k, v in got.items():
            assert k in exact and v == exact[k]
        if exact:
            recall = len(got) / len(exact)
            assert recall >= 0.9, (len(got), len(exact))

    def test_rings_lsh_equals_exact_rings_at_gate_scale(self, spark, sf_dir):
        """VERDICT r14 item 2: rings over the LSH candidate pairs must
        produce the SAME ring sets as the exact Σdeg² leg at gate
        scale (recall 1 there) — same members, same ring_id labeling
        (min member), same sizes — both with the exact twin's shipped
        hub cap and without it (the cap never binds on this corpus)."""
        import pyspark.sql.functions as F

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_rings,
            shared_counterparty_rings_lsh,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
            read_table,
        )

        o = read_table(spark, sf_dir, "orders")
        li = read_table(spark, sf_dir, "lineitem")
        edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.col("o_custkey").alias("entity"),
            F.col("l_suppkey").alias("counterparty"),
        )
        for cap in (2000, None):
            want = sorted(
                tuple(r)
                for r in shared_counterparty_rings(
                    edges, min_shared=2, max_counterparty_degree=cap
                ).collect()
            )
            got = sorted(
                tuple(r)
                for r in shared_counterparty_rings_lsh(
                    edges, min_shared=2, max_counterparty_degree=cap
                ).collect()
            )
            assert want, "exact rings empty at gate scale — fixture broken"
            assert got == want, cap

    def test_rings_lsh_hand_fixture(self, spark):
        """Two identical-set pairs chained through a shared middle
        entity form ONE ring of 3; a disjoint identical pair is its
        own ring of 2."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_rings_lsh,
        )

        rows = (
            [(1, c) for c in (10, 11, 12)]
            + [(2, c) for c in (10, 11, 12)]
            + [(3, c) for c in (10, 11, 12)]
            + [(7, c) for c in (90, 91)]
            + [(8, c) for c in (90, 91)]
            + [(9, c) for c in (50, 51)]  # no partner -> no ring
        )
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        got = sorted(
            tuple(r) for r in shared_counterparty_rings_lsh(df).collect()
        )
        assert got == [
            (1, 1, 3),
            (2, 1, 3),
            (3, 1, 3),
            (7, 7, 2),
            (8, 7, 2),
        ]

    def test_lsh_hand_fixture_identical_sets_collide(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs_lsh,
        )

        # identical sets (J=1) collide in EVERY band — guaranteed hit;
        # the disjoint third entity can never be verified in
        rows = [(1, c) for c in (10, 11, 12)] + [
            (2, c) for c in (10, 11, 12)
        ] + [(3, c) for c in (90, 91, 92)]
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        out = shared_counterparty_pairs_lsh(df, min_shared=2).collect()
        assert [(r["entity_a"], r["entity_b"]) for r in out] == [(1, 2)]
        assert out[0]["jaccard"] == 1.0 and out[0]["n_shared"] == 3

    def test_band_parameter_validation(self, spark):
        """ADVICE r13: bands > num_hashes would hash ZERO signature
        columns (one constant bucket = the quadratic blowup this leg
        avoids); a non-dividing bands silently drops trailing hashes.
        Both must raise before any Spark work."""
        import pytest

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_pairs_lsh,
        )

        df = spark.createDataFrame(
            [(1, 10), (2, 10)], "entity long, counterparty long"
        )
        for bad in (dict(num_hashes=8, bands=16),   # rows_per_band = 0
                    dict(num_hashes=64, bands=48),  # non-dividing
                    dict(num_hashes=64, bands=0)):  # degenerate
            with pytest.raises(ValueError, match="bands"):
                shared_counterparty_pairs_lsh(df, **bad)


class TestPeerGroupOutliers:
    def test_hand_computed_leave_one_out(self, spark):
        import math

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            peer_group_outliers,
        )

        # peer group: 12 entities, 11 with one $10 event each, one
        # whale with one $1000 event. Leave-one-out: the whale's
        # baseline is the 11 tens -> sigma 0 -> NULL z BUT naive
        # pooled stats would have included the whale in its own
        # baseline. Add jitter so sigma > 0.
        rows = [(i, 1, 10.0 + (i % 3)) for i in range(11)] + [(99, 1, 1000.0)]
        df = spark.createDataFrame(rows, "e long, p long, v double")
        out = {
            r["e"]: r
            for r in peer_group_outliers(df, "e", "p", "v", min_peers=5).collect()
        }
        whale = out[99]
        cents = [1000 + (i % 3) * 100 for i in range(11)]
        n = len(cents)
        mu = sum(cents) / n
        var = sum(c * c for c in cents) / n - mu * mu
        want_z = (100000.0 - mu) / math.sqrt(var)
        assert whale["z"] == want_z and whale["outlier_flag"]
        # an ordinary member is nowhere near the threshold
        assert not out[0]["outlier_flag"] and abs(out[0]["z"]) < 3

    def test_small_peer_group_and_zero_variance_null(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            peer_group_outliers,
        )

        # group 2: only 3 entities -> below min_peers -> NULL z
        # group 3: constant values -> sigma 0 -> NULL z, flag False
        rows = [(i, 2, 5.0 * i) for i in range(3)] + [
            (i, 3, 7.0) for i in range(20)
        ]
        df = spark.createDataFrame(rows, "e long, p long, v double")
        out = peer_group_outliers(df, "e", "p", "v", min_peers=10).collect()
        for r in out:
            assert r["z"] is None and not r["outlier_flag"]


class TestCollusionRings:
    def test_hand_planted_rings(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_rings,
        )

        # ring A: entities 1,2,3 chained via near-identical supplier
        # sets; ring B: 10,11 identical; entity 20 overlaps nobody >= 1/2
        rows = (
            [(1, c) for c in (100, 101, 102, 103)]
            + [(2, c) for c in (100, 101, 102, 104)]   # J(1,2)=3/5 >= 1/2
            + [(3, c) for c in (100, 101, 104, 105)]   # J(2,3)=3/5; J(1,3)=2/6 < 1/2
            + [(10, c) for c in (200, 201)]
            + [(11, c) for c in (200, 201)]            # J=1
            + [(20, c) for c in (100, 300, 301, 302, 303, 304)]
        )
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        out = {
            r["entity"]: r
            for r in shared_counterparty_rings(df, min_shared=2).collect()
        }
        # transitivity: 1-2 and 2-3 edges chain all three into one ring
        assert set(out) == {1, 2, 3, 10, 11}
        assert [out[i]["ring_id"] for i in (1, 2, 3)] == [1, 1, 1]
        assert all(out[i]["ring_size"] == 3 for i in (1, 2, 3))
        assert out[10]["ring_id"] == 10 and out[10]["ring_size"] == 2
        assert 20 not in out

    def test_exact_half_boundary_included(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
            shared_counterparty_rings,
        )

        # J exactly 1/2: shared 2, union 4 -> 2*2 >= 1*4 holds
        rows = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (2, 13)]
        df = spark.createDataFrame(rows, "entity long, counterparty long")
        out = shared_counterparty_rings(df, min_shared=2).collect()
        assert {r["entity"] for r in out} == {1, 2}


class TestSplitTransactions:
    def test_hand_computed_window_and_flags(self, spark):
        """Entity 1 splits $2,700 across days 0/2/5 (each sub-$2,000):
        the third part sees 3 parts / $2,700 in its 7-day window and
        flags. An ABOVE-threshold order neither counts as a part nor
        flags; a distant part falls out of the window."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            split_transactions,
        )

        rows = [
            (1, 1, "1994-01-01", 900.0),   # part 1
            (2, 1, "1994-01-03", 900.0),   # part 2
            (3, 1, "1994-01-06", 900.0),   # part 3 -> flags
            (4, 1, "1994-02-01", 900.0),   # window empty again
            (5, 2, "1994-01-01", 5000.0),  # above threshold: no part
            (6, 2, "1994-01-02", 900.0),
        ]
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double"
        )
        got = {
            r["o_orderkey"]: r
            for r in split_transactions(
                df,
                key_col="o_custkey",
                date_col="o_orderdate",
                value_col="o_totalprice",
                id_col="o_orderkey",
                threshold_cents=2_000_00,
                window_days=7,
                min_parts=3,
            ).collect()
        }
        assert [got[k]["split_flag"] for k in (1, 2, 3, 4, 5, 6)] == [
            False, False, True, False, False, False,
        ]
        assert got[3]["n_parts_window"] == 3
        assert got[3]["cents_window"] == 270_000
        # the above-threshold order contributes nothing to its window
        assert got[6]["n_parts_window"] == 1

    def test_same_day_ties_are_symmetric_peers(self, spark):
        """RANGE frame on the day value: two same-day parts see each
        other regardless of row order — engine-independent without a
        tiebreaker (the velocity_flags discipline)."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            split_transactions,
        )

        rows = [
            (1, 7, "1994-01-01", 900.0),
            (2, 7, "1994-01-01", 900.0),
            (3, 7, "1994-01-01", 900.0),
        ]
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double"
        )
        out = split_transactions(
            df, "o_custkey", "o_orderdate", "o_totalprice", "o_orderkey",
            threshold_cents=2_000_00, window_days=7, min_parts=3,
        ).collect()
        assert all(r["n_parts_window"] == 3 and r["split_flag"] for r in out)


class TestFdrAlertRanking:
    def _run(self, spark, zs, **kw):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            fdr_alert_ranking,
        )

        df = spark.createDataFrame(
            [(k, z) for k, z in zs], "k long, z double"
        )
        return {
            r["k"]: r for r in fdr_alert_ranking(df, "k", "z", **kw).collect()
        }

    def test_bh_frontier_hand_computed(self, spark):
        """m=4, alpha=1/2: sorted p = .1 .2 .5 .8 vs thresholds
        .125 .25 .375 .5 -> i* = 2, alerts = two smallest p's."""
        import math

        zs = [(1, 3.0), (2, 1.0), (3, 2.0), (4, math.sqrt(0.25))]
        got = self._run(spark, zs, alpha_num=1, alpha_den=2)
        assert [got[k]["fdr_alert"] for k in (1, 3, 2, 4)] == [
            True, True, False, False,
        ]
        assert [got[k]["bh_rank"] for k in (1, 3, 2, 4)] == [1, 2, 3, 4]
        assert abs(got[1]["p_bound"] - 0.1) < 1e-12

    def test_bh_step_up_rescues_earlier_misses(self, spark):
        """The defining BH property: p=(.3,.55,.58) at alpha=.6 fails
        thresholds (.2,.4) individually but the LAST rank passes .6 ->
        i*=3 -> ALL three alert (a step-DOWN rule would fire none)."""
        import math

        z = lambda p: math.sqrt(1.0 / p - 1.0)  # noqa: E731
        zs = [(1, z(0.3)), (2, z(0.55)), (3, z(0.58))]
        got = self._run(spark, zs, alpha_num=6, alpha_den=10)
        assert all(got[k]["fdr_alert"] for k in (1, 2, 3))

    def test_nonpositive_and_null_z_excluded(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            fdr_alert_ranking,
        )

        df = spark.createDataFrame(
            [(1, 2.0), (2, -3.0), (3, None), (4, 0.0)], "k long, z double"
        )
        got = fdr_alert_ranking(df, "k", "z").collect()
        assert [r["k"] for r in got] == [1]

    def test_n_weighted_bound_tightens(self, spark):
        """Mean-of-n bound: same z with n=100 gives p ~ 1/(1+100 z^2),
        two orders of magnitude tighter than n=1."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            fdr_alert_ranking,
        )

        df = spark.createDataFrame(
            [(1, 3.0, 100), (2, 3.0, 1)], "k long, z double, n long"
        )
        got = {
            r["k"]: r["p_bound"]
            for r in fdr_alert_ranking(df, "k", "z", n_col="n").collect()
        }
        assert abs(got[1] - 1.0 / 901.0) < 1e-15
        assert abs(got[2] - 0.1) < 1e-15


class TestConformalFdrAlerts:
    def test_planted_hot_user_fires_clean_users_do_not(self, spark, tmp_path):
        """End-to-end through the registered query on a planted
        events.parquet: calibration (even event_ids) sets the 95%
        threshold from values 1..100; a hot user whose odd-half values
        all exceed it is the ONLY BH-FDR alert; clean users (values at
        the calibration median, rate 0) never become candidates."""
        import datetime
        import os

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import (
            plans,
        )

        rows = []
        ts = datetime.datetime(2024, 1, 1)
        eid = 0
        # calibration half: even ids, values 1..100 for type 'a'
        for v in range(1, 101):
            rows.append((eid, ts, 999, "a", float(v), "{}"))
            eid += 2
        # test half: odd ids
        eid = 1
        for _ in range(50):  # hot user: every value over the threshold
            rows.append((eid, ts, 1, "a", 1000.0, "{}"))
            eid += 2
        for u in range(2, 12):  # clean users: never exceed
            for _ in range(50):
                rows.append((eid, ts, u, "a", 50.0, "{}"))
                eid += 2
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        sf_dir = str(tmp_path / "planted")
        os.makedirs(sf_dir, exist_ok=True)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf_dir, "events.parquet")
        )
        got = {
            r["user_id"]: r
            for r in plans.REGISTRY["conformal_fdr_alerts_events"]
            .builder(spark, sf_dir)
            .collect()
        }
        # only the hot user is a positive-z candidate, and it alerts
        assert set(got) == {1}
        r = got[1]
        assert r["n_events"] == 50 and r["n_exceed"] == 50
        assert r["fdr_alert"] and r["bh_rank"] == 1
        # Cantelli bound on the exact one-proportion z: p = 1/(1+50 z^2)
        import math

        z = (1.0 - 0.05) / math.sqrt(0.05 * 0.95)
        assert abs(r["z"] - z) < 1e-12
        assert abs(r["p_bound"] - 1.0 / (1.0 + 50 * z * z)) < 1e-15


class TestLastDigits:
    def test_hand_counts_and_exclusion(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            last_digits_profile,
        )

        rows = [
            ("a", 123.00),   # digit 00
            ("a", 45.50),    # digit 50
            ("a", 67.50),    # digit 50
            ("a", 9.99),     # cents 999 < 1000 -> excluded
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {
            (r.g, r.digit): r
            for r in last_digits_profile(df, "v", "g").collect()
        }
        assert len(got) == 100  # full spine for the one group
        assert got[("a", 0)].n_obs == 1
        assert got[("a", 50)].n_obs == 2
        assert got[("a", 99)].n_obs == 0
        assert got[("a", 0)].n_total == 3
        assert got[("a", 0)].expected_p == 0.01

    def test_chi2_python_replica(self, spark):
        import math
        import random

        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            last_digits_profile,
        )

        rng = random.Random(5)
        rows = [("a", 10.0 + rng.randint(0, 9999) / 100.0) for _ in range(500)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = last_digits_profile(df, "v", "g").collect()
        counts = {}
        for _, v in rows:
            c = round(v * 100)
            if c >= 1000:
                counts[c % 100] = counts.get(c % 100, 0) + 1
        n = sum(counts.values())
        q = 0
        for d in range(100):
            e = n * 0.01
            dev = counts.get(d, 0) - e
            q += math.floor(dev * dev / e * 1e9)
        want = q / 1e9
        assert out[0].chi2 == want

    def test_fabricated_endings_flag_high(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            last_digits_profile,
        )

        # all round endings vs spread endings: chi2 must separate them
        fab = [("fab", 100.0 * k) for k in range(1, 101)]  # all end 00
        org = [("org", 10.0 + i + i / 100.0) for i in range(100)]
        df = spark.createDataFrame(fab + org, "g string, v double")
        chi = {
            r.g: r.chi2
            for r in last_digits_profile(df, "v", "g")
            .select("g", "chi2")
            .distinct()
            .collect()
        }
        assert chi["fab"] > 1000.0  # all mass on one of 100 cells
        assert chi["org"] < 200.0


class TestHhiConcentration:
    def test_hand_values_and_flags(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            hhi_concentration,
        )

        rows = (
            [(1, "x")] * 4                     # n=4 < 5: no flag despite HHI=1
            + [(2, "x")] * 3 + [(2, "y")] * 3  # HHI=0.5 exactly: flag (>=)
            + [(3, "x")] * 5 + [(3, "y")] * 1  # HHI=26/36: flag
            + [(4, "x")] * 2 + [(4, "y")] * 2
            + [(4, "z")] * 2 + [(4, "w")] * 2  # HHI=0.25: no flag
        )
        df = spark.createDataFrame(rows, "u long, c string")
        got = {r.u: r for r in hhi_concentration(df, "u", "c").collect()}
        assert got[1].hhi == 1.0 and not got[1].concentration_flag
        assert got[2].hhi == 0.5 and got[2].concentration_flag
        assert got[3].hhi == 26.0 / 36.0 and got[3].concentration_flag
        assert got[4].hhi == 0.25 and not got[4].concentration_flag
        assert got[4].n_categories == 4 and got[4].n == 8

    def test_nulls_dropped(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            hhi_concentration,
        )

        df = spark.createDataFrame(
            [(1, "x"), (None, "x"), (1, None)], "u long, c string"
        )
        got = hhi_concentration(df, "u", "c").collect()
        assert len(got) == 1 and got[0].n == 1


class TestStreamingLastDigits:
    def test_drained_stream_equals_batch(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )

        sf_dir = "/root/testdata/sf0.001"
        batch = REGISTRY["last_digits_orders"].builder(spark, sf_dir).collect()
        streamed = REGISTRY["streaming_last_digits"].builder(
            spark, sf_dir
        ).collect()
        assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
