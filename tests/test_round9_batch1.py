"""Round-9 batch-1 semantics: Pareto coverage, Lorenz deciles, PIT FX
enrichment (fixture parity covered by the oracle
harness; these tests replay the math independently in Python)."""

from __future__ import annotations

import duckdb

from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
    q_customer_lorenz_deciles,
    q_orders_pit_fx_enrich,
    q_user_value_pareto,
)

SF = "/root/testdata/sf0.001"


class TestUserValuePareto:
    def test_brute_force_replay(self, spark):
        rows = {r["threshold_pct"]: r for r in q_user_value_pareto(spark, SF).collect()}
        assert sorted(rows) == [50, 90, 99]
        xs = [
            row[0]
            for row in duckdb.sql(
                f"select coalesce(sum(cast(floor(value*1000000.0) as bigint)),0) x "
                f"from '{SF}/events.parquet' where user_id is not null "
                "group by user_id order by x desc, user_id"
            ).fetchall()
        ]
        tot = sum(xs)
        for pct in (50, 90, 99):
            cum, n = 0, 0
            for x in xs:
                if cum * 100 >= tot * pct:
                    break
                cum += x
                n += 1
            r = rows[pct]
            assert r["n_users"] == n
            assert r["covered_value_micros"] == cum
            assert r["share_ppm"] == cum * 1_000_000 // tot

    def test_coverage_monotone(self, spark):
        rows = sorted(
            q_user_value_pareto(spark, SF).collect(),
            key=lambda r: r["threshold_pct"],
        )
        for lo, hi in zip(rows, rows[1:]):
            assert lo["n_users"] <= hi["n_users"]
            assert lo["share_ppm"] <= hi["share_ppm"]
        # each prefix actually reaches its threshold (floor rounding
        # can cost at most 1 ppm)
        for r in rows:
            assert r["share_ppm"] >= r["threshold_pct"] * 10_000 - 1


class TestCustomerLorenzDeciles:
    def test_census_and_curve_shape(self, spark):
        rows = sorted(
            q_customer_lorenz_deciles(spark, SF).collect(),
            key=lambda r: r["decile"],
        )
        assert [r["decile"] for r in rows] == list(range(10))
        n_cust = duckdb.sql(
            f"select count(distinct o_custkey) from '{SF}/orders.parquet'"
        ).fetchone()[0]
        assert sum(r["n_customers"] for r in rows) == n_cust
        # equal-count deciles within 1
        sizes = [r["n_customers"] for r in rows]
        assert max(sizes) - min(sizes) <= 1
        # the Lorenz curve is convex-ish: cumulative share is monotone,
        # ends at ~100%, and the bottom decile's share is below 10%
        shares = [r["cum_share_ppm"] for r in rows]
        assert shares == sorted(shares)
        assert shares[-1] == 1_000_000
        assert shares[0] < 100_000


class TestOrdersPitFxEnrich:
    def test_python_replay(self, spark):
        rows = {r["market"]: r for r in q_orders_pit_fx_enrich(spark, SF).collect()}
        assert sorted(rows) == list(range(25))
        orders = duckdb.sql(
            f"select ((o_custkey % 25) + 25) % 25 as market, "
            f"cast(o_orderdate as date) odate, "
            f"cast(floor(o_totalprice*100) as bigint) cents "
            f"from '{SF}/orders.parquet'"
        ).fetchall()
        lo = min(o[1] for o in orders).replace(day=1)
        hi = max(o[1] for o in orders).replace(day=1)
        # month spine + sparse effective-dated rates, as the query builds
        months = []
        cur = lo
        while cur <= hi:
            months.append(cur)
            cur = (cur.replace(day=28) + __import__("datetime").timedelta(days=4)).replace(day=1)
        rates = {}  # market -> [(valid_from, rate_ppm)]
        for m in range(25):
            rates[m] = [
                (ms, 1_000_000 + (m * 37 + i * 7919) % 250_000)
                for i, ms in enumerate(months)
                if (m + i) % 3 == 0
            ]
        import bisect

        agg = {m: [0, 0, 0, 0] for m in range(25)}  # n, matched, cents, conv
        for market, odate, cents in orders:
            a = agg[market]
            a[0] += 1
            a[2] += cents
            froms = [vf for vf, _ in rates[market]]
            k = bisect.bisect_right(froms, odate) - 1
            if k >= 0:
                a[1] += 1
                a[3] += cents * rates[market][k][1]
        for m, r in rows.items():
            n, matched, cents, conv = agg[m]
            assert (r["n_orders"], r["n_matched"], r["revenue_cents"]) == (
                n, matched, cents,
            )
            assert r["converted_cents"] == conv // 1_000_000
        # the sparse dimension leaves some early orders unmatched for
        # at least one market OR matches everything — either way the
        # left-join never drops rows
        assert sum(r["n_orders"] for r in rows.values()) == len(orders)


class TestStreamingTwins:
    def test_stream_rfm_equals_batch(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_customer_rfm,
            q_stream_rfm_incremental,
        )

        batch = {
            (r.r_score, r.f_score, r.m_score): (r.n_customers, r.total_monetary_cents)
            for r in q_customer_rfm(spark, SF).collect()
        }
        stream = {
            (r.r_score, r.f_score, r.m_score): (r.n_customers, r.total_monetary_cents)
            for r in q_stream_rfm_incremental(spark, SF).collect()
        }
        assert stream == batch

    def test_stream_abc_equals_batch(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_part_abc_analysis,
            q_stream_abc_incremental,
        )

        batch = {
            r.abc_class: (r.n_parts, r.revenue_cents, r.share_ppm)
            for r in q_part_abc_analysis(spark, SF).collect()
        }
        stream = {
            r.abc_class: (r.n_parts, r.revenue_cents, r.share_ppm)
            for r in q_stream_abc_incremental(spark, SF).collect()
        }
        assert stream == batch


class TestHeavyHittersCms:
    def test_brute_force_replay_and_overcount_property(self, spark):
        from collections import Counter

        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_heavy_hitters_cms,
        )

        rows = q_heavy_hitters_cms(spark, SF).collect()
        uids = [
            u[0]
            for u in duckdb.sql(
                f"select user_id from '{SF}/events.parquet' "
                "where user_id is not null"
            ).fetchall()
        ]
        exact = Counter(uids)
        assert len(rows) == min(20, len(exact))  # sf0.001 has 15 users
        cells = Counter()
        for u in uids:
            for j in range(4):
                cells[(j, ((37 + 61 * j) * u + 13 + 7919 * j) % 1_000_000_007 % 512)] += 1
        top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        want = {}
        for u, n in top:
            est = min(
                cells[(j, ((37 + 61 * j) * u + 13 + 7919 * j) % 1_000_000_007 % 512)]
                for j in range(4)
            )
            want[u] = (n, est, est - n)
        got = {r.user_id: (r.exact_n, r.cms_n, r.over_n) for r in rows}
        assert got == want
        # CMS never undercounts
        assert all(r.over_n >= 0 for r in rows)


class TestCustomerActiveIslands:
    def test_brute_force_replay(self, spark):
        from collections import Counter

        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_customer_active_islands,
        )

        rows = {r.streak_months: r for r in q_customer_active_islands(spark, SF).collect()}
        data = duckdb.sql(
            f"select distinct o_custkey, year(o_orderdate)*12 + month(o_orderdate) "
            f"from '{SF}/orders.parquet'"
        ).fetchall()
        by_cust = {}
        for c, m in data:
            by_cust.setdefault(c, []).append(m)
        n_islands = Counter()
        cust_with = {}
        for c, ms in by_cust.items():
            ms.sort()
            streak = 1
            for prev, cur in zip(ms, ms[1:]):
                if cur == prev + 1:
                    streak += 1
                else:
                    n_islands[streak] += 1
                    cust_with.setdefault(streak, set()).add(c)
                    streak = 1
            n_islands[streak] += 1
            cust_with.setdefault(streak, set()).add(c)
        assert {
            k: (r.n_islands, r.n_customers) for k, r in rows.items()
        } == {k: (n, len(cust_with[k])) for k, n in n_islands.items()}


class TestPartSupplierDegree:
    def test_census_mass_conservation(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_part_supplier_degree,
        )

        rows = q_part_supplier_degree(spark, SF).collect()
        n_edges = duckdb.sql(
            f"select count(*) from (select distinct l_partkey, l_suppkey "
            f"from '{SF}/lineitem.parquet' "
            "where l_partkey is not null and l_suppkey is not null)"
        ).fetchone()[0]
        for side, keycol in (("part", "l_partkey"), ("supplier", "l_suppkey")):
            side_rows = [r for r in rows if r.side == side]
            # Σ degree·n_keys over the census = total edges (each edge
            # counted once per side)
            assert sum(r.degree * r.n_keys for r in side_rows) == n_edges
            n_keys = duckdb.sql(
                f"select count(distinct {keycol}) from '{SF}/lineitem.parquet' "
                f"where {keycol} is not null and "
                f"{'l_suppkey' if side == 'part' else 'l_partkey'} is not null"
            ).fetchone()[0]
            assert sum(r.n_keys for r in side_rows) == n_keys


class TestBloomPrefilter:
    def test_no_false_negatives_and_exact_census(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_lineitem_bloom_prefilter,
        )

        rows = q_lineitem_bloom_prefilter(spark, SF).collect()
        want = duckdb.sql(
            f"""
            select l_returnflag, count(*) n,
                   sum(cast(floor(l_extendedprice*100) as bigint)) rev
            from read_parquet('{SF}/lineitem.parquet') l
            join (select o_orderkey from read_parquet('{SF}/orders.parquet')
                  where o_totalprice >= 450000) h
              on l.l_orderkey = h.o_orderkey
            group by 1
            """
        ).fetchall()
        want = {flag: (n, rev) for flag, n, rev in want}
        got = {r.l_returnflag: (r.n_exact, r.revenue_cents) for r in rows}
        # exact semi-join census is bit-exact regardless of the bloom
        assert got == want
        for r in rows:
            # a Bloom filter may overshoot, never undershoot
            assert r.n_false_pos >= 0
            assert r.n_bloom_pass == r.n_exact + r.n_false_pos

    def test_bloom_unit_membership(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
            bloom_build,
            bloom_might_contain,
        )

        keys = spark.createDataFrame([(i,) for i in range(0, 200, 2)], "k bigint")
        probe = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
        bloom = bloom_build(keys, key_col="k", bits=1 << 14)
        out = bloom_might_contain(probe, bloom, key_col="k", bits=1 << 14)
        flags = {r.k: r.bloom_pass for r in out.collect()}
        # every inserted key passes (no false negatives)
        assert all(flags[i] for i in range(0, 200, 2))


class TestCohortLtvCurve:
    def test_mass_conservation_and_monotone_cum(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_cohort_ltv_curve,
        )

        rows = q_cohort_ltv_curve(spark, SF).collect()
        total = duckdb.sql(
            f"select sum(cast(floor(o_totalprice*100) as bigint)) "
            f"from '{SF}/orders.parquet'"
        ).fetchone()[0]
        # every order lands in exactly one (cohort, age) cell
        assert sum(r.revenue_cents for r in rows) == total
        by_cohort = {}
        for r in rows:
            by_cohort.setdefault(r.cohort_month, []).append(r)
        for cohort, cells in by_cohort.items():
            cells.sort(key=lambda r: r.age_months)
            # age 0 is always present (the first order IS the cohort)
            assert cells[0].age_months == 0
            # cumulative is the running sum of period revenue
            cum = 0
            for c in cells:
                cum += c.revenue_cents
                assert c.cum_revenue_cents == cum
