"""Pipeline-operator tests: dedup, similarity, text.

Small in-memory corpora with known structure; the sf-fixture parity is
covered by the oracle harness (tools/check_oracle.py), so these tests
pin operator *semantics*: candidate generation, verification and
determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators import dedup as D
from prioritizing_event_processing_with_apache_kafka_spark.operators import (
    similarity as S,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different content with other words here"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "one two three four"),                            # short doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_exact_dedup_keeps_min_id(self, docs):
        out = {r["doc_id_keep"]: r["n_copies"] for r in D.exact_dedup(docs, "text", "doc_id").collect()}
        assert out[0] == 2          # docs 0 and 3 collapse; 0 kept
        assert 3 not in out
        assert out[1] == 1 and out[2] == 1 and out[4] == 1


class TestShingles:
    def test_shingle_contents(self, docs):
        row = (
            D.with_shingles(docs, k=4)
            .filter(F.col("doc_id") == 4)
            .select("shingles")
            .first()
        )
        assert row["shingles"] == ["one two three four"]

    def test_shingles_are_distinct(self, spark):
        df = spark.createDataFrame([(0, "a b a b a b a b")], "doc_id long, text string")
        sh = D.with_shingles(df, k=2).first()["shingles"]
        assert sorted(sh) == ["a b", "b a"]


class TestNearDupPairs:
    def test_ngram_jaccard_finds_near_dup(self, docs):
        pairs = {(r["x"], r["y"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, k=4, threshold=0.3).collect()}
        assert (0, 3) in pairs and pairs[(0, 3)] == 1.0      # exact dup
        assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1  # near dup
        assert (1, 3) in pairs
        assert not any(2 in p or 4 in p for p in pairs)

    def test_minhash_lsh_matches_ground_truth(self, docs):
        truth = {(r["x"], r["y"]) for r in D.ngram_jaccard_pairs(docs, k=4, threshold=0.3).collect()}
        lsh = {(r["x"], r["y"]) for r in D.minhash_lsh_pairs(docs, k=4, threshold=0.3).collect()}
        assert lsh == truth

    def test_oph_minhash_matches_ground_truth(self, docs):
        truth = {(r["x"], r["y"]) for r in D.ngram_jaccard_pairs(docs, k=4, threshold=0.3).collect()}
        oph = {(r["x"], r["y"]) for r in D.oph_minhash_pairs(docs, k=4, threshold=0.3).collect()}
        assert oph == truth

    def test_simhash_matches_ground_truth(self, docs):
        truth = {(r["x"], r["y"]) for r in D.ngram_jaccard_pairs(docs, k=4, threshold=0.3).collect()}
        sim = {(r["x"], r["y"]) for r in D.simhash_pairs(docs, k=4, jaccard_threshold=0.3).collect()}
        assert sim == truth

    def test_simhash_recall_audit_query(self, spark, sf_dir):
        """The declared simhash_recall_audit gate, enforced through the
        SAME SELF_AUDITS entry the oracle harness runs."""
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_simhash_recall_audit,
        )
        from tools.check_oracle import SELF_AUDITS

        pdf = q_simhash_recall_audit(spark, sf_dir).toPandas()
        assert len(pdf) == 1
        assert set(pdf.columns) == {"n_truth", "n_found", "recall", "n_extra"}
        assert SELF_AUDITS["simhash_recall_audit"](pdf) == []
        row = pdf.iloc[0]
        assert row["n_truth"] > 0  # the fixture plants near-dups
        # fixtures are truth-set-equal (the probabilistic band only
        # bites at 10×+ volume)
        assert row["recall"] == 1.0

    def test_hot_shingle_cap_drops_degenerate_bucket(self, spark):
        # 10 docs sharing one hot shingle + 2 true dups; the cap must
        # drop the hot bucket but keep the dup pair discoverable.
        rows = [(i, f"common shingle here now unique{i} a b c") for i in range(10)]
        rows += [(100, "x y z w v u t s"), (101, "x y z w v u t s")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["x"], r["y"])
            for r in D.ngram_jaccard_pairs(
                df, k=4, threshold=0.9, max_signature_freq=5
            ).collect()
        }
        assert pairs == {(100, 101)}


class TestSimilarity:
    def test_cosine_identity_and_orthogonal(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = {r["vec_id"]: (r["rank"], r["cos_sim"]) for r in S.cosine_topk(df, q, k=2).collect()}
        assert out[2] == (1, 1.0)
        assert out[1] == (2, 0.0)

    def test_lsh_bucket_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i + j) for j in range(64)]) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        b1 = {r["vec_id"]: r["lsh_bucket"] for r in S.with_lsh_bucket(df).collect()}
        b2 = {r["vec_id"]: r["lsh_bucket"] for r in S.with_lsh_bucket(df).collect()}
        assert b1 == b2
        assert all(0 <= v < 256 for v in b1.values())


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(0, "a bb ccc")], "doc_id long, text string")
        row = TX.token_counts(df).first()
        assert row["n_tokens"] == 3 and row["n_tokens_re"] == 3

    def test_quality_features(self, spark):
        df = spark.createDataFrame([(0, "the cat the dog")], "doc_id long, text string")
        row = TX.quality_features(df).first()
        assert row["n_tokens"] == 4
        assert row["stopword_ratio"] == 0.5
        assert row["mean_word_len"] == 3.0

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta"), (1, "beta alpha"), (2, "alpha beta")],
            "doc_id long, text string",
        )
        fp = {r["doc_id"]: r["fingerprint"] for r in TX.fingerprint(df).collect()}
        assert fp[0] == fp[2]
        assert fp[0] != fp[1]


class TestKmeans:
    def test_separated_blobs_converge_to_own_clusters(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        # Three tight, well-separated 4-dim blobs; seeds (the first 3
        # ids) land one in each blob, so two iterations must assign
        # every vector to its blob-mate seed's cluster.
        blobs = {0: [0.0, 0.0, 0.0, 0.0], 1: [10.0, 10.0, 0.0, 0.0], 2: [0.0, 0.0, 10.0, 10.0]}
        rows = []
        for i in range(30):
            blob = i % 3
            vec = [c + 0.01 * (i // 3) for c in blobs[blob]]
            rows.append((i, vec))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_assignments(df, k=3, n_iter=2).collect()
        by_blob = {}
        for r in out:
            by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
        # each blob maps to exactly one cluster, and clusters differ
        assert all(len(c) == 1 for c in by_blob.values())
        assert len(set().union(*by_blob.values())) == 3

    def test_rejects_bad_params(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            kmeans_assignments(df, k=0)
        with pytest.raises(ValueError):
            kmeans_assignments(df, n_iter=0)
        with pytest.raises(ValueError, match="assignment"):
            kmeans_assignments(df, assignment="bogus")

    def _blob_frame(self, spark, n_blobs=6, per_blob=30):
        import random

        rng = random.Random(3)
        rows = []
        for b in range(n_blobs):
            center = [20.0 * b + 10.0 * (d == b) for d in range(8)]
            for i in range(per_blob):
                rows.append(
                    (
                        b * per_blob + i,
                        [c + rng.uniform(-0.5, 0.5) for c in center],
                    )
                )
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_pruned_assignment_groups_eq_k_is_exact(self, spark):
        """groups >= k prunes nothing, so kmeans_assignments routes the
        degenerate case to the exact plan — bit-for-bit identical by
        construction (routing through rounded group means could
        otherwise flip near-tie assignments)."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(df, k=6, n_iter=3).collect()
        }
        pruned = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(
                df, k=6, n_iter=3, assignment="pruned", groups=6
            ).collect()
        }
        assert pruned == exact

    def test_pruned_assignment_high_agreement(self, spark):
        """Aggressive pruning (√k groups) keeps high agreement with the
        exact assignment on separated blobs — the IVF recall trade,
        bounded."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(df, k=6, n_iter=3).collect()
        }
        pruned = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(
                df, k=6, n_iter=3, assignment="pruned", groups=3
            ).collect()
        }
        assert len(pruned) == len(exact)  # every vector still assigned
        agreement = sum(exact[i] == pruned[i] for i in exact) / len(exact)
        assert agreement >= 0.8, agreement

    def test_multiprobe_probes_eq_groups_is_exact(self, spark):
        """probes=groups scores every group, hence every centroid —
        the multi-probe router must then be bit-identical to exact."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(df, k=6, n_iter=2).collect()
        }
        probed = {
            r["vec_id"]: (r["cluster"], r["d2"])
            for r in kmeans_assignments(
                df, k=6, n_iter=2, assignment="pruned", groups=3, probes=3
            ).collect()
        }
        assert probed == exact

    def test_multiprobe_improves_or_matches_single_probe(self, spark):
        """probes=2 must keep every vector assigned and agree with the
        exact assignment at least as often as probes=1 (the scored
        candidate set only grows)."""
        from prioritizing_event_processing_with_apache_kafka_spark.operators.clustering import (
            kmeans_assignments,
        )

        df = self._blob_frame(spark)
        exact = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assignments(df, k=6, n_iter=2).collect()
        }

        def agreement(probes):
            out = {
                r["vec_id"]: r["cluster"]
                for r in kmeans_assignments(
                    df, k=6, n_iter=2, assignment="pruned", groups=3,
                    probes=probes,
                ).collect()
            }
            assert len(out) == len(exact)
            return sum(exact[i] == out[i] for i in exact) / len(exact)

        assert agreement(2) >= agreement(1)

    def test_pruned_agreement_audit_query(self, spark, sf_dir):
        """The declared kmeans_pruned_agreement gate, enforced through
        the SAME SELF_AUDITS entry the oracle harness runs — the test
        and the gate cannot drift apart."""
        from prioritizing_event_processing_with_apache_kafka_spark.inventory_pipeline import (
            q_kmeans_pruned_agreement,
        )
        from tools.check_oracle import SELF_AUDITS

        pdf = q_kmeans_pruned_agreement(spark, sf_dir).toPandas()
        assert len(pdf) == 1
        assert set(pdf.columns) == {
            "n_vecs",
            "agree_rate",
            "inertia_ratio",
            "min_excess_d2",
            "inertia_ratio_full",
        }
        assert SELF_AUDITS["kmeans_pruned_agreement"](pdf) == []
        row = pdf.iloc[0]
        # same seed centroids -> pruned scores a subset, ratio >= 1
        assert row["inertia_ratio"] >= 1.0
        assert 0.0 <= row["agree_rate"] <= 1.0


class TestDecontamination:
    def test_containment_is_directional(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.dedup import (
            contamination_pairs,
        )

        bench_text = "the quick brown fox jumps over the lazy dog tonight"
        corpus = spark.createDataFrame(
            [
                # embeds the full benchmark text inside a longer doc
                (1, "prefix words here " + bench_text + " and a suffix tail"),
                # unrelated
                (2, "completely different content about spark physical plans"),
                # doc sharing one shingle among many of its own
                (3, "the quick brown fox sleeps all day and then walks far away home"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(100, bench_text)], "bench_id long, text string")
        out = contamination_pairs(corpus, bench, k=4, threshold=0.5)
        rows = {(r["doc_id"], r["bench_id"]): r["containment"] for r in out.collect()}
        assert set(rows) == {(1, 100)}
        assert rows[(1, 100)] >= 0.5


class TestSignatureStoreVersion:
    def test_stale_store_version_fails_fast(self, spark):
        docs = spark.createDataFrame(
            [(0, "one two three four five six"), (1, "seven eight nine ten up")],
            "doc_id long, text string",
        )
        store = (
            D.with_minhash_signature(docs, num_hashes=16)
            .select("doc_id", "minhash")
            .withColumn("sig_version", F.lit(2))
        )
        with pytest.raises(Exception) as ei:
            D.incremental_minhash_pairs(
                docs, store, docs, num_hashes=16, bands=4
            ).collect()
        assert "hash basis" in str(ei.value)

    def test_current_store_version_passes(self, spark):
        docs = spark.createDataFrame(
            [(0, "one two three four five six")], "doc_id long, text string"
        )
        store = (
            D.with_minhash_signature(docs, num_hashes=16)
            .select("doc_id", "minhash")
            .withColumn("sig_version", F.lit(D.SIGNATURE_STORE_VERSION))
        )
        new = spark.createDataFrame(
            [(10, "one two three four five six")], "doc_id long, text string"
        )
        out = D.incremental_minhash_pairs(
            new, store, docs, num_hashes=16, bands=4, threshold=0.5
        ).collect()
        assert {(r["new_id"], r["old_id"]) for r in out} == {(10, 0)}

    def test_tokens_col_hook_matches_text_signing(self, spark):
        docs = spark.createDataFrame(
            [(0, "the quick brown fox jumps over it"), (1, "x y")],
            "doc_id long, text string",
        )
        via_text = {
            r["doc_id"]: r["minhash"]
            for r in D.with_minhash_signature(docs, num_hashes=16)
            .select("doc_id", "minhash")
            .collect()
        }
        sh = D.with_shingles(docs, k=4, keep_tokens="__tk")
        via_tokens = {
            r["doc_id"]: r["minhash"]
            for r in D.with_minhash_signature(
                sh, num_hashes=16, shingled=sh.drop("__tk"), tokens_col="__tk"
            )
            .select("doc_id", "minhash")
            .collect()
        }
        assert via_text == via_tokens


class TestBloomContamination:
    def test_bloom_path_equals_plain_path(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "totally unrelated words in this training document here"),
                (3, "x y"),  # sub-k doc
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog"), (101, "")],
            "bench_id long, text string",
        )
        plain = sorted(
            D.contamination_pairs(corpus, bench, k=4, threshold=0.3).collect()
        )
        bloom = sorted(
            D.bloom_contamination_pairs(corpus, bench, k=4, threshold=0.3).collect()
        )
        assert bloom == plain
        assert plain  # the crafted overlap must actually be found

    def test_empty_benchmark_yields_no_pairs(self, spark):
        corpus = spark.createDataFrame(
            [(1, "some training text goes here now")], "doc_id long, text string"
        )
        bench = spark.createDataFrame([], "bench_id long, text string")
        assert (
            D.bloom_contamination_pairs(corpus, bench, k=4, threshold=0.1).count() == 0
        )

    def test_prefilter_drops_non_benchmark_shingles(self, spark):
        # A corpus disjoint from the benchmark must produce zero rows
        # even at threshold 0 — every shingle is a definite negative.
        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(100, "one two three four five six")], "bench_id long, text string"
        )
        assert (
            D.bloom_contamination_pairs(corpus, bench, k=4, threshold=0.0).count() == 0
        )


class TestHashedShingleBasis:
    """The string-free blocking paths promise: Jaccard over distinct
    shingle-HASH sets equals Jaccard over distinct shingle STRINGS
    (absent a 64-bit collision), including the short-doc NULL-padded
    window and empty-text edges."""

    def _string_shingles(self, text: str, k: int = 4) -> set[str]:
        # Reference semantics of with_shingles: one window per position
        # up to max(len - k + 1, 1); concat_ws skips the NULL tail.
        toks = text.split(" ")
        n = max(len(toks) - k + 1, 1)
        return {" ".join(toks[i : i + k]) for i in range(n)}

    def test_hashed_jaccard_equals_string_jaccard(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "a b c d a b c d a b c d"),          # repeated shingles
            (3, "one two three"),                     # < k tokens
            (4, "one two"),                           # < k tokens, prefix of 3
            (5, ""),                                  # empty text
            (6, "the quick brown fox leaps over the lazy dog"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ids = [r[0] for r in rows]
        cands = spark.createDataFrame(
            [(x, y) for x in ids for y in ids if x < y], "x long, y long"
        )
        ph = D._shingle_hash_rows(df, "doc_id", "text", 4)
        got = {
            (r["x"], r["y"]): r["jaccard"]
            for r in D._verify_jaccard_hashed(
                cands, D._hash_sets(ph, "doc_id", "__hs"), "doc_id", 0.0
            ).collect()
        }
        sets = {i: self._string_shingles(t) for i, t in rows}
        for x in ids:
            for y in ids:
                if x < y:
                    inter = len(sets[x] & sets[y])
                    union = len(sets[x] | sets[y])
                    assert got[(x, y)] == pytest.approx(inter / union, abs=1e-12), (
                        x, y,
                    )

    def test_hash_rows_distinct_count_matches_string_shingles(self, spark):
        rows = [(0, "a b c d e f"), (1, "x y"), (2, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        counts = {
            r["doc_id"]: r["n"]
            for r in D._shingle_hash_rows(df, "doc_id", "text", 4)
            .groupBy("doc_id")
            .agg(F.countDistinct("__h").alias("n"))
            .collect()
        }
        for i, t in rows:
            assert counts[i] == len(self._string_shingles(t)), i


class TestEditDistance:
    def test_blocked_levenshtein_pairs(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.dedup import (
            edit_distance_pairs,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, base.replace("delta", "delts")),      # distance 1
                (3, base.replace("epsilon", "upsilon")),  # distance 1
                (4, "unrelated words that share absolutely nothing at all here"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r["x"], r["y"]): r["edit_distance"]
            for r in edit_distance_pairs(docs, k=4, max_distance=10).collect()
        }
        assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


class TestSpanDedup:
    def test_cross_doc_spans_removed_order_kept(self, spark):
        # span_tokens=2: doc 0 = [a b][c d][e], doc 1 = [a b][x y],
        # doc 2 = [c d] — "a b" and "c d" appear in 2 docs each.
        rows = [(0, "a b c d e"), (1, "a b x y"), (2, "c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in D.remove_duplicate_spans(
                df, span_tokens=2, max_docs=1
            ).collect()
        }
        assert out[0].clean_text == "e" and out[0].n_removed == 2
        assert out[0].n_spans == 3
        assert out[1].clean_text == "x y" and out[1].n_removed == 1
        assert out[2].clean_text == "" and out[2].n_removed == 1

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        rows = [(0, "a b"), (1, "a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = D.remove_duplicate_spans(df, span_tokens=2, max_docs=1)
        got = {r.doc_id: r.clean_text for r in out.collect()}
        assert got == {0: "", 1: ""}

    def test_max_docs_threshold(self, spark):
        rows = [(0, "a b"), (1, "a b"), (2, "a b")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # allow spans in up to 3 docs: nothing removed
        out = D.remove_duplicate_spans(df, span_tokens=2, max_docs=3)
        assert all(r.n_removed == 0 for r in out.collect())


class TestRepetitionStats:
    def test_ratios_on_crafted_docs(self, spark):
        rows = [
            (0, "a a a a"),          # all one token
            (1, "a b c d"),          # no repetition
            (2, "a b a b a"),        # bigrams: ab ba ab ba -> 2 dup of 4
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
        assert out[0].dup_token_ratio == pytest.approx(3 / 4)
        assert out[0].dup_bigram_ratio == pytest.approx(2 / 3)
        assert out[1].dup_token_ratio == 0.0
        assert out[1].dup_trigram_ratio == 0.0
        assert out[2].dup_bigram_ratio == pytest.approx(2 / 4)
        assert out[2].dup_trigram_ratio == pytest.approx(1 / 3)

    def test_short_doc_has_zero_ngram_ratios(self, spark):
        df = spark.createDataFrame([(0, "solo")], "doc_id long, text string")
        r = TX.repetition_stats(df).collect()[0]
        assert r.n_tokens == 1
        assert r.dup_bigram_ratio == 0.0 and r.dup_trigram_ratio == 0.0


class TestSemanticDedup:
    def test_within_cluster_pairs_found_cross_cluster_missed(self, spark):
        # Two tight blobs pointing in near-orthogonal directions; the
        # pair structure inside each blob is cosine ~1, across blobs ~0.
        rows = []
        for i in range(10):
            base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
            rows.append((i, [c + 0.001 * i for c in base]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = S.semantic_neardup_pairs(df, k=2, n_iter=2, threshold=0.9).collect()
        got = {(r.x, r.y) for r in pairs}
        # every same-blob pair is reported…
        expected = {
            (x, y) for x in range(10) for y in range(10)
            if x < y and x % 2 == y % 2
        }
        assert got == expected
        # …and each reported pair carries one cluster id per blob
        clusters = {r.x % 2: r.cluster for r in pairs}
        assert len(set(clusters.values())) == 2

    def test_pairs_are_subset_of_all_pairs_truth(self, spark):
        import itertools
        rows = [
            (i, [float(i % 4 == j) + 0.05 * i for j in range(4)]) for i in range(12)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        sem = {
            (r.x, r.y): r.cos_sim
            for r in S.semantic_neardup_pairs(
                df, k=4, n_iter=2, threshold=0.8
            ).collect()
        }
        # brute-force truth set at the same threshold
        vecs = dict(rows)
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(x * x for x in b) ** 0.5
            return d / (na * nb)
        truth = {
            (x, y)
            for x, y in itertools.combinations(range(12), 2)
            if round(cos(vecs[x], vecs[y]), 6) >= 0.8
        }
        assert set(sem) <= truth  # precision is exact: no false pairs
        assert len(sem) > 0

    def test_auto_k_resolves_and_keeps_exact_precision(self, spark):
        # 60 vectors in two near-orthogonal blobs; target_cluster_size=30
        # -> k = max(8, ceil(60/30)) = 8. Auto-k must resolve the
        # sentinel to an int k-means, and the SemDeDup contract must
        # hold: precision is exact (no cross-blob pair can score
        # cosine >= 0.9), pairs are non-empty, recall is bounded by
        # co-clustering (k=8 may split a blob into sub-clusters, so
        # equality with the full same-blob truth set is NOT asserted).
        rows = []
        for i in range(60):
            base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
            rows.append((i, [c + 0.0005 * i for c in base]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = S.semantic_neardup_pairs(
            df, k="auto", n_iter=2, threshold=0.9, target_cluster_size=30
        ).collect()
        got = {(r.x, r.y) for r in pairs}
        same_blob = {
            (x, y) for x in range(60) for y in range(60)
            if x < y and x % 2 == y % 2
        }
        assert got and got <= same_blob
        # auto-k actually spreads the space: more than the 2 natural
        # blobs' worth of cluster ids appear (k=8 was honored).
        assert len({r.cluster for r in pairs}) > 2


class TestIncrementalDedup:
    def test_new_batch_matches_history_via_signature_store(self, spark):
        history = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different content with other words here"),
                (3, "one two three four five six seven eight"),
            ],
            "doc_id long, text string",
        )
        new_batch = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
                (11, "nothing like anything in the history corpus at all"),
            ],
            "doc_id long, text string",
        )
        # the store carries ONLY (id, signature) — the realistic index
        store = D.with_minhash_signature(history, k=4, num_hashes=32).select(
            "doc_id", "minhash"
        )
        out = D.incremental_minhash_pairs(
            new_batch, store, history, k=4, num_hashes=32, bands=8, threshold=0.5
        ).collect()
        assert [(r.new_id, r.old_id) for r in out] == [(10, 1)]
        assert out[0].jaccard == pytest.approx(1.0)

    def test_bands_must_divide_hashes(self, spark):
        df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
        store = D.with_minhash_signature(df, k=4, num_hashes=32).select(
            "doc_id", "minhash"
        )
        with pytest.raises(ValueError, match="divisible"):
            D.incremental_minhash_pairs(
                df, store, df, num_hashes=32, bands=7
            )


class TestSpanFrequencies:
    def test_doc_and_occurrence_counts(self, spark):
        rows = [(0, "a b a b"), (1, "a b c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.span: (r.n_docs, r.n_occurrences)
            for r in D.span_frequencies(df, span_tokens=2).collect()
        }
        assert out["a b"] == (2, 3)  # twice in doc 0, once in doc 1
        assert out["c d"] == (1, 1)


class TestCorpusBigramStats:
    def test_freqs_and_rare_ratio(self, spark):
        rows = [
            (0, "x y x y"),     # bigrams: "x y"(corpus c=3), "y x"(1), "x y"
            (1, "x y z w"),     # bigrams: "x y", "y z"(1), "z w"(1)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in TX.corpus_bigram_stats(df, rare_threshold=1).collect()
        }
        assert out[0].n_bigrams == 3
        assert out[0].avg_bigram_freq == pytest.approx((3 + 1 + 3) / 3)
        assert out[0].rare_bigram_ratio == pytest.approx(1 / 3)
        assert out[1].avg_bigram_freq == pytest.approx((3 + 1 + 1) / 3)
        assert out[1].rare_bigram_ratio == pytest.approx(2 / 3)


class TestMixtureSample:
    def test_limiting_stratum_full_and_ratios_hold(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            mixture_sample,
        )

        # 300 web / 300 books / 60 code rows; weights 4:2:1 make code
        # the limiting stratum (60/1 < 300/2 < 300/4): scale=60, so
        # expected kept = 240 web / 120 books / 60 code (code in full).
        rows = (
            [(i, "web") for i in range(300)]
            + [(1000 + i, "books") for i in range(300)]
            + [(2000 + i, "code") for i in range(60)]
        )
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = mixture_sample(
            df, key="doc_id", strata_col="source",
            weights={"web": 4.0, "books": 2.0, "code": 1.0},
        )
        got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        assert got["code"] == 60           # limiting stratum kept whole
        # hash-coin sampling: expected 240/120, allow ~4 sigma
        assert abs(got["web"] - 240) < 40
        assert abs(got["books"] - 120) < 35
        # determinism: identical set on a different partitioning
        again = mixture_sample(
            df.repartition(13), key="doc_id", strata_col="source",
            weights={"web": 4.0, "books": 2.0, "code": 1.0},
        )
        assert {r.doc_id for r in again.collect()} == {
            r.doc_id for r in out.collect()
        }

    def test_unlisted_strata_dropped_and_bad_weights_rejected(self, spark):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
            mixture_sample,
        )

        df = spark.createDataFrame(
            [(0, "a"), (1, "b")], "doc_id long, source string"
        )
        out = mixture_sample(
            df, key="doc_id", strata_col="source", weights={"a": 1.0}
        )
        assert [r.source for r in out.collect()] == ["a"]
        with pytest.raises(ValueError):
            mixture_sample(df, key="doc_id", strata_col="source", weights={})
        with pytest.raises(ValueError):
            mixture_sample(
                df, key="doc_id", strata_col="source", weights={"a": -1.0}
            )


class TestChunking:
    def test_overlap_and_coverage(self, spark):
        text = " ".join(f"t{i}" for i in range(20))
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        out = (
            TX.chunk_documents(df, chunk_size=8, stride=4)
            .orderBy("chunk_id")
            .collect()
        )
        # 20 tokens, window 8, stride 4 → 1 + ceil(12/4) = 4 chunks
        assert [r.chunk_id for r in out] == [0, 1, 2, 3]
        assert out[0].chunk_text.split(" ") == [f"t{i}" for i in range(8)]
        # consecutive chunks overlap by chunk_size - stride = 4 tokens
        assert out[1].chunk_text.split(" ")[:4] == out[0].chunk_text.split(" ")[4:]
        # last chunk is the tail, shorter but non-empty
        assert out[3].chunk_text.split(" ") == [f"t{i}" for i in range(12, 20)]
        assert [r.n_chunk_tokens for r in out] == [8, 8, 8, 8]

    def test_short_doc_single_chunk(self, spark):
        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        out = TX.chunk_documents(df, chunk_size=8, stride=4).collect()
        assert len(out) == 1
        assert out[0].chunk_text == "a b c"
        assert out[0].n_chunk_tokens == 3

    def test_bad_params_rejected(self, spark):
        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            TX.chunk_documents(df, chunk_size=0)
        with pytest.raises(ValueError):
            TX.chunk_documents(df, stride=0)


class TestVocabCoverage:
    def test_ranking_and_cumulative_coverage(self, spark):
        df = spark.createDataFrame(
            [(0, "a a a b"), (1, "a b c d")], "doc_id long, text string"
        )
        out = {r.token: r for r in TX.vocab_coverage(df, top_k=10).collect()}
        assert out["a"].vocab_rank == 1 and out["a"].occurrences == 4
        assert out["a"].coverage == 0.5
        # b (2) then c, d (1 each, tie broken by token asc)
        assert out["b"].vocab_rank == 2 and out["c"].vocab_rank == 3
        assert out["d"].coverage == 1.0

    def test_top_k_truncates(self, spark):
        df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
        assert TX.vocab_coverage(df, top_k=2).count() == 2


class TestPiiRedaction:
    def test_each_class_redacted_and_counted(self, spark):
        df = spark.createDataFrame(
            [
                (0, "mail bob.smith+x@corp.example.org now"),
                (1, "server at 192.168.001.1 port open"),
                (2, "id 123-45-6789 on file"),
                (3, "clean text no pii"),
                (4, "two mails a@b.io c@d.net and 1.2.3.4"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in TX.redact_pii(df).collect()}
        assert out[0].redacted == "mail <EMAIL> now" and out[0].n_email == 1
        assert out[1].redacted == "server at <IP> port open" and out[1].n_ipv4 == 1
        assert out[2].redacted == "id <SSN> on file" and out[2].n_ssn == 1
        assert out[3].redacted == "clean text no pii"
        assert (out[3].n_email, out[3].n_ssn, out[3].n_ipv4) == (0, 0, 0)
        assert out[4].redacted == "two mails <EMAIL> <EMAIL> and <IP>"
        assert out[4].n_email == 2 and out[4].n_ipv4 == 1


class TestQuantization:
    def test_quantize_known_vector(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, -2.0, 4.0]), (1, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r.vec_id: r for r in S.quantize_vectors(df).collect()}
        # scale = 127/4 = 31.75 → round(1*31.75)=32, round(-2*31.75)=-64
        assert out[0].qvec == [32, -64, 127]
        assert out[0].q_scale == pytest.approx(31.75)
        # zero vector: scale 0, all-zero code, no NaN
        assert out[1].q_scale == 0.0 and out[1].qvec == [0, 0, 0]

    def test_int8_topk_recall_vs_exact(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in S.cosine_topk(emb, queries, k=5).collect()
        }
        quant = {
            (r.query_id, r.vec_id)
            for r in S.quantized_ann_topk(emb, queries, k=5).collect()
        }
        recall = len(exact & quant) / len(exact)
        # int8 error is tiny relative to neighbor gaps; near-perfect
        # overlap expected, floor documents the contract
        assert recall >= 0.8, f"int8 recall collapsed: {recall}"


class TestCacheScope:
    def test_scope_releases_operator_caches(self, spark, docs):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        spark.catalog.clearCache()
        # Snapshot first: localCheckpoint()-ed RDDs from earlier tests
        # (graph fixpoints) sit in getPersistentRDDs but NOT in the
        # catalog cache, so clearCache can't drop them and GC timing
        # decides when they vanish. The scope's contract is that it
        # releases what IT registered — assert against the baseline,
        # not an absolute zero.
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        with cache_scope():
            pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
            assert pairs.count() >= 1  # action runs with caches live
            during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
            assert len(during - before) > 0
        # scope exit unpersists every frame the operator cached
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert not (after - before), f"scope leaked RDDs: {after - before}"

    def test_scope_releases_on_error(self, spark, docs):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
            cache_scope,
        )

        spark.catalog.clearCache()
        # Baseline snapshot for the same reason as above: lingering
        # localCheckpoint RDDs from other tests are outside the
        # scope's contract.
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        with pytest.raises(RuntimeError, match="boom"):
            with cache_scope():
                D.simhash_pairs(docs).count()
                raise RuntimeError("boom")
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert not (after - before), f"scope leaked RDDs: {after - before}"

    def test_no_scope_keeps_legacy_behavior(self, spark, docs):
        spark.catalog.clearCache()
        D.oph_minhash_pairs(docs).count()
        # outside a scope the cache stays for the session (documented:
        # callers clearCache between queries)
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
        spark.catalog.clearCache()


class TestZeroNormAnnGuard:
    def test_zero_vector_never_ranks(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero vector: NaN score unguarded
            (3, [0.5, 0.5, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = S.quantized_ann_topk(emb, queries, k=3).collect()
        ids = [r.vec_id for r in out]
        assert 2 not in ids, "zero vector must be dropped, not ranked"
        # Spark sorts NaN largest — without the guard vec 2 ranks #1
        assert ids == [1, 3]
        assert all(not (r.qcos_sim != r.qcos_sim) for r in out)  # no NaN
