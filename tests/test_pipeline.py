"""Training-data pipeline operators: text analysis, dedup family,
decontamination, packing/mixture, drift and corpus audits (SURVEY §2)."""

import pytest
from pyspark.sql import functions as F

from datatest_spark.operators import dedup, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.persist().count()
    return df


class TestText:
    def test_token_count_matches_python(self, docs):
        rows = docs.select("text", text.token_count().alias("n")).limit(50).collect()
        for r in rows:
            assert r["n"] == len(r["text"].split(" "))

    def test_regex_token_count(self, docs):
        rows = docs.select("text", text.regex_token_count().alias("n")).limit(20).collect()
        import re

        for r in rows:
            assert r["n"] == len(re.findall(r"[A-Za-z0-9]+", r["text"]))

    def test_quality_score_bounds(self, docs):
        rows = docs.select(text.quality_score().alias("q")).collect()
        assert all(0.0 <= r["q"] <= 1.0 for r in rows)

    def test_lang_id_english_salad(self, docs):
        # driver texts are English-ish word salad containing 'the'/'a'
        preds = docs.select(text.lang_id().alias("l")).groupBy("l").count().collect()
        top = max(preds, key=lambda r: r["count"])
        assert top["l"] == "en"

    def test_fingerprint_deterministic(self, docs):
        a = docs.select("doc_id", text.fingerprint().alias("f")).collect()
        b = docs.select("doc_id", text.fingerprint().alias("f")).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_winnow_fingerprints_nonempty(self, docs):
        rows = docs.select(text.winnow_fingerprints().alias("w")).limit(10).collect()
        assert all(len(r["w"]) >= 1 for r in rows)

    def test_winnow_short_text_never_null_elements(self, spark):
        # round-2 review: a shingle-less input fingerprinted to [null];
        # null text now yields [] and short texts their whole-text shingle
        df = spark.createDataFrame([(None,), ("",), ("one two",)], "text string")
        rows = df.select(text.winnow_fingerprints(k=5).alias("w")).collect()
        assert rows[0]["w"] == []
        for r in rows[1:]:
            assert len(r["w"]) == 1 and r["w"][0] is not None

    def test_text_profile(self, docs):
        prof = text.text_profile(docs).collect()
        assert len(prof) == docs.select("source").distinct().count()


class TestDedup:
    def test_exact_duplicates_detects_injected(self, spark, docs):
        doubled = docs.unionByName(
            docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
        )
        groups = dedup.exact_duplicates(doubled, id_col="doc_id").collect()
        assert len(groups) == 3
        assert all(g["n_docs"] == 2 for g in groups)

    def test_exact_duplicates_clean(self, docs):
        assert dedup.exact_duplicates(docs).count() == 0

    def test_jaccard_self_pairs(self, spark, docs):
        # a doc unioned with itself under a new id must appear at jaccard 1.0
        clone = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
        df = docs.unionByName(clone)
        pairs = dedup.ngram_jaccard_pairs(df, threshold=0.99).collect()
        assert len(pairs) >= 2
        assert all(p["jaccard"] == 1.0 for p in pairs[:2])

    def test_jaccard_df_cap_kills_boilerplate_fanout(self, spark, docs):
        """A shingle shared by every doc (injected boilerplate footer)
        must not create pairs — and both cap strategies must agree with
        each other and leave genuinely-similar pairs intact."""
        footer = " COMMON FOOTER ONE TWO THREE"  # 5-shingle window hits it
        boiler = docs.withColumn("text", F.concat("text", F.lit(footer)))
        clone = boiler.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
        df = boiler.unionByName(clone)
        n_docs = df.count()
        cap = 50  # far below n_docs: the footer shingles get dropped
        win = {
            tuple(r) for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.9, df_cap=cap, cap_strategy="window"
            ).collect()
        }
        agg = {
            tuple(r) for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.9, df_cap=cap, cap_strategy="agg"
            ).collect()
        }
        assert win == agg
        pair_ids = {(a, b) for a, b, _ in win}
        # the injected exact clones surface at jaccard 1.0
        clone_ids = {r["doc_id"] for r in clone.collect()}
        assert all((c - 100000, c) in pair_ids for c in clone_ids)
        # the universally-shared footer must NOT pair everything with
        # everything: output stays a tiny fraction of the O(N^2) space
        assert len(pair_ids) < 0.01 * n_docs * (n_docs - 1) / 2
        assert n_docs > cap  # the footer really was over the cap

    def test_jaccard_cap_strategy_validated(self, docs):
        with pytest.raises(ValueError, match="cap_strategy"):
            dedup.ngram_jaccard_pairs(docs, cap_strategy="windowed")

    def test_minhash_signature_shape(self, docs):
        sig = dedup.minhash_signatures(docs, num_hashes=8)
        row = sig.limit(1).collect()[0]
        assert all(len(row["mh{0}".format(i)]) == 32 for i in range(8))

    def test_lsh_finds_clones_and_verifies(self, spark, docs):
        clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
        df = docs.unionByName(clone)
        pairs = dedup.minhash_lsh_pairs(df, verify_threshold=0.9).collect()
        # exact clone pairs (doc, doc+100000) must all surface at jaccard 1.0
        clone_pairs = [p for p in pairs if p["doc_b"] == p["doc_a"] + 100000]
        assert len(clone_pairs) == 3  # identical docs always share all bands
        assert all(p["jaccard"] == 1.0 for p in clone_pairs)

    def test_lsh_candidates_subset_of_exact_threshold(self, docs):
        # verified LSH output must be a subset of the exact pairs at the
        # same threshold (LSH prunes, never invents)
        exact = {
            (p["doc_a"], p["doc_b"])
            for p in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
        }
        lsh = {
            (p["doc_a"], p["doc_b"])
            for p in dedup.minhash_lsh_pairs(docs, verify_threshold=0.4).collect()
        }
        assert lsh <= exact

    def test_lsh_verify_values_match_global_jaccard(self, docs):
        # the candidate-scoped verify pass (semi-join to banding
        # survivors) must produce EXACTLY the same jaccard values as the
        # full-corpus exact pass restricted to banded pairs — the global
        # df_cap keeps the capped shingle space identical
        cand = {
            (p["doc_a"], p["doc_b"])
            for p in dedup.minhash_lsh_pairs(docs, verify_threshold=None).collect()
        }
        exact = {
            (p["doc_a"], p["doc_b"]): p["jaccard"]
            for p in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()
        }
        lsh = {
            (p["doc_a"], p["doc_b"]): p["jaccard"]
            for p in dedup.minhash_lsh_pairs(docs, verify_threshold=0.4).collect()
        }
        expected = {k: v for k, v in exact.items() if k in cand}
        assert lsh == expected

    def test_lsh_cap_strategies_agree(self, docs):
        a = sorted(map(tuple, dedup.minhash_lsh_pairs(
            docs, verify_threshold=0.4, cap_strategy="window").collect()))
        b = sorted(map(tuple, dedup.minhash_lsh_pairs(
            docs, verify_threshold=0.4, cap_strategy="agg").collect()))
        assert a == b
        # validation also fires on the candidates-only form (no verify
        # pass, so _cap_shingles never runs)
        with pytest.raises(ValueError, match="cap_strategy"):
            dedup.minhash_lsh_pairs(docs, verify_threshold=None,
                                    cap_strategy="windowed")

    def test_lsh_cap_strategies_agree_with_binding_cap(self, spark, docs):
        # a BINDING df_cap: clone three docs and inject a universal
        # boilerplate footer so some shingle frequencies exceed the cap.
        # Both strategies (and therefore the window form's full-corpus
        # frequency invariant) must still produce identical values —
        # a refactor that scoped frequencies to candidate docs would
        # diverge here
        footer = " unsubscribe from this newsletter footer line"
        df = docs.withColumn("text", F.concat(F.col("text"), F.lit(footer)))
        clones = df.limit(3).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
        df = df.unionByName(clones)
        kw = dict(verify_threshold=0.3, df_cap=50)
        a = sorted(map(tuple, dedup.minhash_lsh_pairs(
            df, cap_strategy="window", **kw).collect()))
        b = sorted(map(tuple, dedup.minhash_lsh_pairs(
            df, cap_strategy="agg", **kw).collect()))
        assert a == b and len(a) >= 3  # the clone pairs survive

    def test_simhash_clones_zero_hamming(self, spark, docs):
        clone = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
        df = docs.unionByName(clone)
        pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
        clone_pairs = [p for p in pairs if p["doc_b"] >= 100000]
        assert len(clone_pairs) >= 2
        assert all(p["hamming"] == 0 for p in clone_pairs)

    def test_simhash60_md5_fits_60_bits_and_clones_equal(self, spark, docs):
        rows = (
            docs.limit(5)
            .select("doc_id", dedup.simhash60_md5(F.col("text")).alias("s"))
            .collect()
        )
        assert all(0 <= r["s"] < (1 << 60) for r in rows)
        clone = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
        both = docs.limit(5).unionByName(clone).select(
            F.md5("text").alias("h"), dedup.simhash60_md5(F.col("text")).alias("s")
        ).collect()
        by_text = {}
        for r in both:
            by_text.setdefault(r["h"], set()).add(r["s"])
        assert all(len(v) == 1 for v in by_text.values())


class TestPackingMixture:
    def test_pack_sequences_hand_example(self, spark):
        from datatest_spark.operators import packing

        df = spark.createDataFrame(
            [(1, "a", 4), (2, "a", 5), (3, "a", 3), (4, "a", 12),
             (5, "a", 1), (6, "a", 0)],
            "doc_id long, source string, n long",
        )
        got = {
            r["doc_id"]: (r["pack_id"], r["pack_offset"], r["seq_len"],
                          r["n_packs_spanned"])
            for r in packing.pack_sequences(
                df, length_col="n", capacity=10
            ).collect()
        }
        # stream: 4,5,3,12,1,0 chopped every 10
        assert got == {
            1: (0, 0, 4, 1),
            2: (0, 4, 5, 1),
            3: (0, 9, 3, 2),   # crosses the 10-boundary
            4: (1, 2, 12, 2),  # longer than capacity: spans into pack 2
            5: (2, 4, 1, 1),
            6: (2, 5, 0, 1),   # zero-length: occupies no room, spans 1
        }

    def test_pack_sequences_drops_null_and_negative_lengths(self, spark):
        # a null length would get a pack_id with null seq_len while the
        # cumsum skips it; a negative one corrupts every later offset in
        # the stream — both are dropped up front (documented contract)
        from datatest_spark.operators import packing

        df = spark.createDataFrame(
            [(1, "a", 4), (2, "a", None), (3, "a", -7), (4, "a", 8)],
            "doc_id long, source string, n long",
        )
        got = {
            r["doc_id"]: (r["pack_id"], r["pack_offset"], r["seq_len"])
            for r in packing.pack_sequences(
                df, length_col="n", capacity=10
            ).collect()
        }
        # docs 2 and 3 gone; doc 4 packs as if they never existed
        assert got == {1: (0, 0, 4), 4: (0, 4, 8)}

    def test_pack_sequences_sharded_matches_per_shard_unsharded(self, spark, docs):
        """Sharded packing == unsharded packing applied to each shard's
        subset: the scale path changes parallelism, not semantics."""
        from datatest_spark.operators import packing

        d = docs.select("doc_id", "source", "n_chars")
        sharded = packing.pack_sequences(
            d, length_col="n_chars", capacity=512, num_shards=4
        )
        for shard in range(4):
            subset = d.where(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)) == shard
            )
            plain = packing.pack_sequences(subset, length_col="n_chars",
                                           capacity=512)
            a = {tuple(r) for r in sharded.where(F.col("shard") == shard)
                 .drop("shard").collect()}
            b = {tuple(r) for r in plain.collect()}
            assert a == b

    def test_mixture_sample_rates_le_1_is_pure_filter(self, spark, docs):
        """All rates <= 1: no explode in the plan (map-only filter), and
        the kept fraction per source tracks the rate."""
        from datatest_spark.operators import packing

        rates = {"src0": 0.0, "src1": 0.5, "src2": 1.0}
        out = packing.mixture_sample(docs, rates, default_rate=0.25)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan and "Exchange" not in plan
        by_src = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert "src0" not in by_src
        assert by_src["src2"] == docs.where("source = 'src2'").count()
        n1 = docs.where("source = 'src1'").count()
        assert 0 < by_src.get("src1", 0) < n1

    def test_mixture_sample_oversampling_deterministic(self, spark, docs):
        """rate 2.5 -> epochs 0 and 1 complete, epoch 2 partial; the
        whole kept set is identical across invocations (no RNG)."""
        from datatest_spark.operators import packing

        rates = {"src3": 2.5}
        out = packing.mixture_sample(docs, rates, hash_fn="md5")
        rows = out.select("doc_id", "epoch").collect()
        n = docs.where("source = 'src3'").count()
        by_epoch = {}
        for r in rows:
            by_epoch[r["epoch"]] = by_epoch.get(r["epoch"], 0) + 1
        assert by_epoch[0] == n and by_epoch[1] == n
        assert 0 < by_epoch.get(2, 0) < n  # the fractional half-epoch
        again = packing.mixture_sample(docs, rates, hash_fn="md5")
        assert {tuple(r) for r in again.select("doc_id", "epoch").collect()} \
            == {tuple(r) for r in rows}

    def test_mixture_sample_hash_fns_agree_statistically(self, spark, docs):
        from datatest_spark.operators import packing

        rates = {s: 0.5 for s in ("src0", "src1", "src2", "src3")}
        total = docs.where(F.col("source").isin(*rates)).count()
        for fn in ("xxhash64", "md5"):
            kept = packing.mixture_sample(docs, rates, hash_fn=fn).count()
            assert abs(kept / total - 0.5) < 0.15, (fn, kept, total)


class TestStratifiedSample:
    def test_exact_counts_and_determinism(self, spark, docs):
        from datatest_spark.operators import packing

        out = packing.stratified_sample(docs, 7)
        counts = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        per_group = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {s: min(7, n) for s, n in per_group.items()}
        again = packing.stratified_sample(docs, 7)
        assert {r["doc_id"] for r in again.select("doc_id").collect()} \
            == {r["doc_id"] for r in out.select("doc_id").collect()}

    def test_dict_rates_and_md5(self, spark, docs):
        from datatest_spark.operators import packing

        out = packing.stratified_sample(
            docs, {"src0": 3, "src1": 5}, hash_fn="md5"
        )
        counts = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert counts == {"src0": 3, "src1": 5}  # absent groups -> nothing


class TestDedupClusters:
    def test_clusters_and_drop(self, spark, docs):
        from pyspark.sql import functions as F2

        clone1 = docs.limit(3).withColumn("doc_id", F2.col("doc_id") + 100000)
        clone2 = docs.limit(2).withColumn("doc_id", F2.col("doc_id") + 200000)
        df = docs.unionByName(clone1).unionByName(clone2)
        deduped = dedup.drop_near_duplicates(df, verify_threshold=0.95)
        n_before, n_after = df.count(), deduped.count()
        assert n_after < n_before
        # clones keep lower-id originals as representatives, so all drop
        assert deduped.filter("doc_id >= 100000").count() == 0
        # semantic postcondition: no near-dup pair survives the dedup
        remaining_pairs = dedup.minhash_lsh_pairs(
            deduped, verify_threshold=0.95
        ).count()
        assert remaining_pairs == 0

    def test_transitive_cluster(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        )
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters(pairs).collect()
        }
        assert labels[1] == labels[2] == labels[3] == 1
        assert labels[10] == labels[11] == 10

    def test_cluster_iteration_cache_is_bounded(self, spark):
        """Regression (round-1 verdict): each label-propagation iteration
        must unpersist the superseded generation — a long chain (many
        iterations, exercising the checkpoint path too) must not grow the
        persisted-RDD table by more than the single returned frame."""
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 14)], "doc_a long, doc_b long"
        )
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        labels = dedup.dedup_clusters(chain)
        rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert all(v == 1 for v in rows.values())  # one chain, min label 1
        # file-backed checkpoints pin no executor block storage: nothing
        # from the iterations (incl. mid-loop checkpoints) may remain
        assert after <= before
        # the returned frame stays valid after all caches are gone
        assert labels.count() == len(rows)


class TestDedupConvergenceSignal:
    def test_unconverged_labels_warn(self, spark):
        # a 7-node chain needs several propagation rounds; max_iters=1
        # must not return partial labels silently (r2 advisory)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            dedup.dedup_clusters(chain, max_iters=1)

    def test_converged_run_does_not_warn(self, spark):
        import warnings

        pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            labels = dedup.dedup_clusters(pairs)
            assert {r["cluster_id"] for r in labels.collect()} == {1}

    def test_long_chain_warns_past_max_iters(self, spark):
        # a 60-node chain has diameter 59: one-hop propagation can't
        # finish in 10 iterations, and must say so
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 60)], "doc_a long, doc_b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            dedup.dedup_clusters(chain, max_iters=10)


class TestDecontamination:
    @pytest.fixture()
    def corpus_bench(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "nothing here overlaps the benchmark at all"),
                (3, "alpha beta gamma delta shared prefix too"),
                (4, None),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta"), (101, "beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        return corpus, bench

    def test_contamination_counts(self, spark, corpus_bench):
        from datatest_spark.operators import decontam

        corpus, bench = corpus_bench
        rows = {
            r["doc_id"]: (r["n_hits"], r["n_bench_docs"])
            for r in decontam.contamination(corpus, bench, k=4).collect()
        }
        # doc 1 shares "alpha beta gamma delta" (bench 100) and
        # "beta gamma delta epsilon" (bench 101); doc 3 only the first
        assert rows == {1: (2, 2), 3: (1, 1)}

    def test_decontaminate_keeps_clean_docs(self, spark, corpus_bench):
        from datatest_spark.operators import decontam

        corpus, bench = corpus_bench
        kept = sorted(
            r["doc_id"]
            for r in decontam.decontaminate(corpus, bench, k=4).collect()
        )
        assert kept == [2, 4]  # null text is never contaminated

    def test_min_hits_threshold(self, spark, corpus_bench):
        from datatest_spark.operators import decontam

        corpus, bench = corpus_bench
        flagged = [
            r["doc_id"]
            for r in decontam.contamination(
                corpus, bench, k=4, min_hits=2
            ).collect()
        ]
        assert flagged == [1]

    def test_broadcast_only_plan(self, spark, corpus_bench):
        from datatest_spark.operators import decontam

        corpus, bench = corpus_bench
        plan = (
            decontam.contamination(corpus, bench, k=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestTokenContamination:
    def _frames(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, [1, 2, 3, 4, 5]),      # contains bench window 2,3,4,5
                (2, [9, 9, 9, 9]),          # no overlap
                (3, [2, 3, 4, 5]),          # exactly the bench sequence
                (4, []),                     # empty: no shingles
                (5, None),                   # null: no shingles
            ],
            "doc_id long, tokens array<int>",
        )
        bench = spark.createDataFrame(
            [(100, [2, 3, 4, 5])], "doc_id long, tokens array<int>"
        )
        return corpus, bench

    def test_flags_overlapping_docs(self, spark):
        from datatest_spark.operators.decontam import token_contamination

        corpus, bench = self._frames(spark)
        got = {
            r["doc_id"]: r
            for r in token_contamination(corpus, bench, k=4).collect()
        }
        assert sorted(got) == [1, 3]
        assert got[3]["n_hits"] == 1 and got[3]["n_bench_docs"] == 1

    def test_hashed_and_string_flag_same_docs(self, spark):
        from datatest_spark.operators.decontam import token_contamination

        corpus, bench = self._frames(spark)
        h = {r["doc_id"] for r in
             token_contamination(corpus, bench, k=4, hashed=True).collect()}
        s = {r["doc_id"] for r in
             token_contamination(corpus, bench, k=4, hashed=False).collect()}
        assert h == s == {1, 3}

    def test_short_sequence_whole_shingle(self, spark):
        from datatest_spark.operators.decontam import token_shingles

        df = spark.createDataFrame(
            [(1, [7, 8]), (2, [7])], "doc_id long, tokens array<int>"
        )
        rows = {
            r["doc_id"]: r["shingle"]
            for r in token_shingles(df, k=4, hashed=False).collect()
        }
        assert rows == {1: "7,8", 2: "7"}

    def test_null_elements_dropped_in_shingles(self, spark):
        from datatest_spark.operators.decontam import token_shingles

        df = spark.createDataFrame(
            [(1, [1, None, 2])], "doc_id long, tokens array<int>"
        )
        got = [r["shingle"] for r in
               token_shingles(df, k=2, hashed=False).collect()]
        assert got == ["1,2"]

    def test_extra_lengths_single_pass_and_validated(self, spark):
        from datatest_spark.operators.decontam import token_shingles

        df = spark.createDataFrame(
            [(1, [1, 2, 3])], "doc_id long, tokens array<int>"
        )
        got = sorted(
            r["shingle"]
            for r in token_shingles(df, k=2, hashed=False,
                                    extra_lengths=(1,)).collect()
        )
        assert got == ["1", "1,2", "2", "2,3", "3"]
        # ONE explode in the plan regardless of extra lengths
        plan = (
            token_shingles(df, k=3, hashed=False, extra_lengths=(1, 2))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Generate explode") == 1
        with pytest.raises(ValueError, match="extra_lengths"):
            token_shingles(df, k=3, extra_lengths=(3,))
        with pytest.raises(ValueError, match="k must"):
            token_shingles(df, k=0)

    def test_short_bench_answer_found_in_long_doc(self, spark):
        # the recall hole: a whole-sequence bench shingle of length L
        # must match L-windows of LONGER corpus docs, not only other
        # short docs
        from datatest_spark.operators.decontam import token_contamination

        corpus = spark.createDataFrame(
            [(1, [1, 2, 7, 8, 9, 10, 11, 12, 13]),  # contains [7,8]
             (2, [1, 2, 3, 4, 5, 6, 9, 10, 11])],   # does not
            "doc_id long, tokens array<int>",
        )
        bench = spark.createDataFrame(
            [(100, [7, 8])], "doc_id long, tokens array<int>"
        )
        got = {r["doc_id"] for r in
               token_contamination(corpus, bench, k=8).collect()}
        assert got == {1}

    def test_precomputed_short_lengths_skip_eager_job(self, spark):
        # short_lengths= keeps token_contamination a PURE plan builder:
        # no Spark job may run at construction time, and the result must
        # equal the collect-at-build default
        from datatest_spark.operators.decontam import token_contamination

        corpus = spark.createDataFrame(
            [(1, [1, 2, 7, 8, 9, 10, 11, 12, 13]),
             (2, [1, 2, 3, 4, 5, 6, 9, 10, 11])],
            "doc_id long, tokens array<int>",
        )
        bench = spark.createDataFrame(
            [(100, [7, 8])], "doc_id long, tokens array<int>"
        )
        sc = spark.sparkContext
        sc.setJobGroup("lazy-build-probe", "plan construction only")
        try:
            plan = token_contamination(corpus, bench, k=8,
                                       short_lengths=(2,))
        finally:
            sc.setJobGroup("lazy-build-probe-done", "")
        jobs = sc.statusTracker().getJobIdsForGroup("lazy-build-probe")
        assert list(jobs) == []
        default = {tuple(r) for r in
                   token_contamination(corpus, bench, k=8).collect()}
        assert {tuple(r) for r in plan.collect()} == default
        # () disables short-window matching: the [7,8] bench doc can no
        # longer hit anything (every corpus doc is longer than 2)
        assert token_contamination(
            corpus, bench, k=8, short_lengths=()
        ).count() == 0

    def test_short_lengths_validated(self, spark):
        from datatest_spark.operators.decontam import token_contamination

        corpus = spark.createDataFrame(
            [(1, [1, 2, 3])], "doc_id long, tokens array<int>"
        )
        bench = spark.createDataFrame(
            [(100, [7, 8])], "doc_id long, tokens array<int>"
        )
        with pytest.raises(ValueError, match="short_lengths"):
            token_contamination(corpus, bench, k=8, short_lengths=(0,))
        with pytest.raises(ValueError, match="short_lengths"):
            token_contamination(corpus, bench, k=8, short_lengths=(8,))


class TestDuplicateSpans:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, [1, 2, 5, 6, 7, 8, 9, 10, 3]),  # shares [5..10] w/ 2
                (2, [5, 6, 7, 8, 9, 10, 99, 98]),
                (3, [40, 41, 42, 43, 44]),           # unique
                (4, [1, 2]),                          # shorter than k
            ],
            "doc_id long, tokens array<int>",
        )

    def test_spans_merged_and_positioned(self, spark):
        from datatest_spark.operators.dedup import duplicate_spans

        got = {
            r["doc_id"]: r
            for r in duplicate_spans(self._df(spark), k=4).collect()
        }
        assert sorted(got) == [1, 2]
        # doc 1: shared run at positions 2..7 -> one span [2, 8) from
        # 3 overlapping windows
        assert (got[1]["span_start"], got[1]["span_end"]) == (2, 8)
        assert got[1]["n_windows"] == 3 and got[1]["max_dup_docs"] == 2
        assert (got[2]["span_start"], got[2]["span_end"]) == (0, 6)

    def test_disjoint_spans_stay_separate(self, spark):
        from datatest_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [
                (1, [1, 2, 3, 4] + [50] * 10 + [5, 6, 7, 8]),
                (2, [1, 2, 3, 4, 77, 5, 6, 7, 8, 78, 79, 80, 81]),
            ],
            "doc_id long, tokens array<int>",
        )
        spans = [
            (r["span_start"], r["span_end"])
            for r in duplicate_spans(df, k=4).collect()
            if r["doc_id"] == 1
        ]
        # the [50]*10 run is unique to doc 1: two separate spans
        assert sorted(spans) == [(0, 4), (14, 18)]

    def test_hashed_equals_string_grouping(self, spark):
        from datatest_spark.operators.dedup import duplicate_spans

        df = self._df(spark)
        a = sorted(map(tuple,
                       duplicate_spans(df, k=4, hashed=True).collect()))
        b = sorted(map(tuple,
                       duplicate_spans(df, k=4, hashed=False).collect()))
        assert a == b

    def test_agg_strategy_equals_window(self, spark):
        from datatest_spark.operators.dedup import duplicate_spans

        df = self._df(spark)
        a = sorted(map(tuple,
                       duplicate_spans(df, k=4,
                                       strategy="window").collect()))
        b = sorted(map(tuple,
                       duplicate_spans(df, k=4, strategy="agg").collect()))
        assert a == b

    def test_positions_index_original_array(self, spark):
        # null elements must NOT shift span positions: the caller cuts
        # [span_start, span_end) out of its ORIGINAL tokens array
        from datatest_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, [None, 5, 6, 7, 8, 9]), (2, [5, 6, 7, 8, 55, 56])],
            "doc_id long, tokens array<int>",
        )
        got = {r["doc_id"]: r for r in duplicate_spans(df, k=4).collect()}
        assert (got[1]["span_start"], got[1]["span_end"]) == (1, 5)
        assert (got[2]["span_start"], got[2]["span_end"]) == (0, 4)

    def test_invalid_params_rejected(self, spark):
        from datatest_spark.operators.dedup import duplicate_spans

        df = self._df(spark)
        with pytest.raises(ValueError, match="k must"):
            duplicate_spans(df, k=0)
        with pytest.raises(ValueError, match="min_docs"):
            duplicate_spans(df, k=4, min_docs=0)
        with pytest.raises(ValueError, match="strategy"):
            duplicate_spans(df, k=4, strategy="nope")

    def test_window_strategy_single_explode_plan(self, spark):
        # the default strategy's whole point: the dominant explode runs
        # ONCE (agg+self-join runs it twice — no ReusedExchange)
        from datatest_spark.operators.dedup import duplicate_spans

        df = self._df(spark)
        plan = (
            duplicate_spans(df, k=4)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert plan.count("Generate posexplode") == 1
        agg_plan = (
            duplicate_spans(df, k=4, strategy="agg")._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert agg_plan.count("Generate posexplode") == 2

    def test_default_strategy_buffers_no_sets(self, spark):
        # VERDICT r3 weak #2: the default must survive one k-gram shared
        # by EVERY doc (license header). dense_rank+max buffers rows in
        # a spillable array; a collect_set window frame would hold the
        # whole doc-id set in memory. Pin: no set aggregate in the plan.
        from datatest_spark.operators.dedup import duplicate_spans

        df = self._df(spark)
        plan = (
            duplicate_spans(df, k=4)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "collect_set" not in plan
        assert "dense_rank" in plan

    def test_null_doc_id_not_a_distinct_doc(self, spark):
        # a null-id row sharing a k-gram with exactly ONE real doc must
        # not push n_docs to min_docs (count_distinct, the agg strategy,
        # and the old collect_set all exclude nulls; dense_rank would
        # count the null group without the correction)
        from datatest_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, [5, 6, 7, 8]), (None, [5, 6, 7, 8])],
            "doc_id long, tokens array<int>",
        )
        for strat in ("window", "agg"):
            assert duplicate_spans(
                df, k=4, strategy=strat
            ).count() == 0, strat

    def test_default_survives_universal_shingle(self, spark):
        # adversarial fan-in: the SAME k-token run in all 3000 docs ->
        # one window partition holding every doc. Must complete and
        # count distinct docs exactly (each doc also carries a unique
        # tail so per-doc spans stay distinguishable).
        from datatest_spark.operators.dedup import duplicate_spans

        n = 3000
        df = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.array(F.lit(7), F.lit(8), F.lit(9), F.lit(10)),
                F.array((F.col("id") + 1000).cast("int")),
            ).alias("tokens"),
        )
        rows = duplicate_spans(df, k=4).collect()
        assert len(rows) == n
        assert all(
            (r["span_start"], r["span_end"], r["max_dup_docs"]) == (0, 4, n)
            for r in rows
        )


class TestRepetitionSignals:
    def test_hand_example(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "a b c a b c a b"), (2, "x y z w v u")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.repetition_signals(df, n=2).collect()}
        # doc 1 bigrams: ab bc ca ab bc ca ab -> 7 total; "a b" x3 modal;
        # every occurrence duplicated
        assert rows[1]["n_ngrams"] == 7
        assert rows[1]["top_ngram_frac"] == pytest.approx(3 / 7, abs=1e-4)
        assert rows[1]["dup_ngram_frac"] == 1.0
        assert rows[2]["dup_ngram_frac"] == 0.0

    def test_short_doc_degenerate(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame([(1, "word")], "doc_id long, text string")
        r = t.repetition_signals(df, n=3).collect()[0]
        assert (r["n_ngrams"], r["top_ngram_frac"], r["dup_ngram_frac"]) == (
            1,
            1.0,
            0.0,
        )


class TestTokenRunStats:
    def test_runs(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, [5, 5, 5, 1, 2, 2]),
                (2, []),
                (3, [7]),
                (4, None),
                (5, [None, None, 3]),
            ],
            "doc_id long, tokens array<int>",
        )
        rows = {r["doc_id"]: r for r in t.token_run_stats(df).collect()}
        assert rows[1]["max_run"] == 3 and rows[1]["max_run_frac"] == 0.5
        assert rows[1]["n_distinct_tokens"] == 3
        assert rows[2]["max_run"] == 0 and rows[2]["max_run_frac"] is None
        assert rows[3]["max_run"] == 1 and rows[3]["max_run_frac"] == 1.0
        assert rows[4]["max_run"] is None
        # null tokens count as a run of equal values (eqNullSafe)
        assert rows[5]["max_run"] == 2

    def test_map_only_plan(self, spark):
        from datatest_spark.operators import text as t

        df = spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.array(F.lit(1), F.lit(1), F.lit(2)).alias("tokens"),
        )
        plan = (
            t.token_run_stats(df)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestTokenEntropy:
    def test_values(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, [1, 1, 2, 3]),   # H = 2 - (2*1)/4 = 1.5
                (2, [5, 5, 5, 5]),   # H = 0
                (3, []),
                (4, [7]),
                (5, None),
                (6, [2, None, 2]),   # nulls dropped -> n=2, H=0
            ],
            "doc_id long, tokens array<int>",
        )
        rows = {r["doc_id"]: r for r in t.token_entropy(df).collect()}
        assert rows[1]["entropy"] == 1.5 and rows[1]["ttr"] == 0.75
        assert rows[1]["n_distinct_tokens"] == 3
        assert rows[2]["entropy"] == 0.0 and rows[2]["ttr"] == 0.25
        assert rows[3]["entropy"] is None and rows[3]["n_tokens"] == 0
        assert rows[4]["entropy"] == 0.0 and rows[4]["ttr"] == 1.0
        assert rows[5]["n_tokens"] is None
        assert rows[6]["n_tokens"] == 2 and rows[6]["entropy"] == 0.0

    def test_uniform_max_entropy(self, spark):
        # k distinct singletons -> H = log2(k) exactly
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, list(range(8)))], "doc_id long, tokens array<int>"
        )
        r = t.token_entropy(df).collect()[0]
        assert r["entropy"] == 3.0 and r["ttr"] == 1.0

    def test_map_only_plan(self, spark):
        from datatest_spark.operators import text as t

        df = spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.array(F.lit(1), F.lit(1), F.lit(2)).alias("tokens"),
        )
        plan = (
            t.token_entropy(df)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestUnigramLogloss:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, [1, 1, 2]), (2, [2, 3, None]), (3, []), (4, None)],
            "doc_id long, tokens array<int>",
        )

    def test_self_model_values(self, spark):
        from datatest_spark.operators.text import unigram_logloss

        # counts: 1->2, 2->2, 3->1, T=5
        # doc1: log2(5/2)=1.3219; doc2: (log2(5/2)+log2(5))/2=1.8219
        rows = {
            r["doc_id"]: r
            for r in unigram_logloss(self._df(spark)).collect()
        }
        assert rows[1]["bits_per_token"] == 1.3219
        assert rows[2]["bits_per_token"] == 1.8219
        assert rows[2]["n_tokens"] == 2  # null element dropped
        assert rows[3]["bits_per_token"] is None
        assert rows[4]["n_tokens"] is None

    def test_oov_skipped_and_counted(self, spark):
        from datatest_spark.operators.text import (
            unigram_logloss, unigram_model,
        )

        m = unigram_model(
            spark.createDataFrame(
                [(1, [1, 1, 2, 2])], "doc_id long, tokens array<int>"
            )
        )
        rows = {
            r["doc_id"]: r
            for r in unigram_logloss(self._df(spark), model=m).collect()
        }
        # token 3 is OOV: skipped from the score, surfaced in n_oov
        assert rows[2]["n_oov"] == 1 and rows[2]["bits_per_token"] == 1.0
        assert rows[1]["n_oov"] == 0 and rows[1]["bits_per_token"] == 1.0

    def test_carriers_agree_and_guard_negative_ids(self, spark, monkeypatch):
        # the three model carriers (positional array for dense ids,
        # literal map, broadcast map) must score identically — including
        # NEGATIVE and past-the-end ids, which try_element_at on the
        # array carrier would otherwise wrap from the array's end
        import datatest_spark.operators.text as T

        df = spark.createDataFrame(
            [(1, [0, 1, 5]), (2, [-2, 2, 99]), (3, [1, None, 2])],
            "doc_id long, tokens array<int>",
        )
        m = T.unigram_model(
            spark.createDataFrame(
                [(1, [0, 0, 1, 2, 5])], "doc_id long, tokens array<int>"
            )
        )
        base = sorted(
            map(tuple, T.unigram_logloss(df, model=m).collect())
        )
        # force the map carriers by disabling the dense-array path
        monkeypatch.setattr(T, "LM_ARRAY_CARRIER_MAX_ID", 0)
        lit_map = sorted(
            map(tuple, T.unigram_logloss(df, model=m).collect())
        )
        monkeypatch.setattr(T, "LM_LITERAL_MAX_ENTRIES", 0)
        bcast_map = sorted(
            map(tuple, T.unigram_logloss(df, model=m).collect())
        )
        assert base == lit_map == bcast_map
        by_id = {r[0]: r for r in base}
        # doc 2: -2 and 99 are both OOV (not wrapped into the vocab)
        assert by_id[2][2] == 2  # n_oov

    def test_empty_model(self, spark):
        from datatest_spark.operators.text import (
            unigram_logloss, unigram_model,
        )

        df = self._df(spark)
        m = unigram_model(df.where("doc_id < 0"))
        rows = {
            r["doc_id"]: r
            for r in unigram_logloss(df, model=m).collect()
        }
        assert rows[1]["n_oov"] == 3 and rows[1]["bits_per_token"] is None

    def test_scoring_plan_map_only(self, spark):
        from datatest_spark.operators.text import (
            unigram_logloss, unigram_model,
        )

        df = self._df(spark)
        m = unigram_model(df)
        plan = (
            unigram_logloss(df, model=m)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestPiiScan:
    def test_counts_and_flag(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, "mail me at a.b+c@ex-site.org or x@y.io thanks"),
                (2, "call 555-867-5309 from 10.0.0.1 and 8.8.8.8"),
                (3, "clean text with no identifiers at all"),
                (4, None),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.pii_scan(df).collect()}
        assert rows[1]["n_email"] == 2 and rows[1]["has_pii"] is True
        assert rows[2]["n_phone"] == 1 and rows[2]["n_ipv4"] == 2
        assert rows[3]["has_pii"] is False
        assert rows[4]["n_email"] == 0 and rows[4]["has_pii"] is False

    def test_map_only_plan(self, spark):
        from datatest_spark.operators import text as t

        df = spark.range(5).select(
            F.col("id").alias("doc_id"), F.lit("x@y.io").alias("text")
        )
        plan = (
            t.pii_scan(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestChi2Drift:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "g string, v double")

    def test_hand_value(self, spark):
        from datatest_spark.operators.drift import chi2_from_histogram

        rows = ([("a", 1.0)] * 10 + [("a", 3.0)] * 10
                + [("b", 1.0)] * 30 + [("b", 3.0)] * 10)
        out = {
            r["group"]: r
            for r in chi2_from_histogram(
                self._df(spark, rows), "v", "g", "a", 0.0, 4.0, nbins=2
            ).collect()
        }
        # b: tot=40 base tot=20 -> e=(20,20); (30-20)^2/20+(10-20)^2/20
        assert out["b"]["chi2"] == 10.0
        assert out["a"]["chi2"] == 0.0  # baseline vs itself
        assert out["a"]["dof"] == 1 and out["b"]["dof"] == 1
        assert out["b"]["novel_buckets"] == 0

    def test_novel_bucket_not_infinite(self, spark):
        from datatest_spark.operators.drift import chi2_from_histogram

        rows = [("a", 1.0)] * 4 + [("b", 1.0)] * 2 + [("b", 3.0)] * 2
        out = {
            r["group"]: r
            for r in chi2_from_histogram(
                self._df(spark, rows), "v", "g", "a", 0.0, 4.0, nbins=2
            ).collect()
        }
        # bucket 2 has baseline mass 0 but group mass 2: excluded from
        # the statistic, surfaced in novel_buckets instead
        assert out["b"]["novel_buckets"] == 1
        assert out["b"]["dof"] == 0
        # remaining term: e = 4*4/4 = 4, o=2 -> (2-4)^2/4 = 1.0
        assert out["b"]["chi2"] == 1.0

    def test_absent_baseline_raises(self, spark):
        from datatest_spark.operators.drift import chi2_from_histogram

        df = self._df(spark, [("a", 1.0)])
        with pytest.raises(Exception, match="baseline_group"):
            chi2_from_histogram(
                df, "v", "g", "nope", 0.0, 4.0, nbins=2
            ).collect()


class TestGroupShares:
    def test_shares_and_null_group(self, spark):
        from datatest_spark.operators.stats import group_shares

        df = spark.createDataFrame(
            [("w",)] * 6 + [("x",)] * 3 + [(None,)], "s string"
        )
        rows = group_shares(df, "s", n_alias="n_docs").collect()
        assert [r["group"] for r in rows] == ["w", "x", "__null__"]
        assert [r["rank"] for r in rows] == [1, 2, 3]
        assert rows[0]["share"] == 0.6 and rows[0]["cum_share"] == 0.6
        assert rows[2]["cum_share"] == 1.0

    def test_tie_breaks_on_group_asc(self, spark):
        from datatest_spark.operators.stats import group_shares

        df = spark.createDataFrame([("b",), ("a",)], "s string")
        rows = group_shares(df, "s").collect()
        assert [r["group"] for r in rows] == ["a", "b"]


class TestSourceCrossEntropy:
    @staticmethod
    def _mirror(data, alpha=1.0, bits=20):
        import math

        vocab = set()
        for c in data.values():
            vocab |= set(c)
        v = len(vocab)
        n = {g: sum(c.values()) for g, c in data.items()}
        s = float(1 << bits)
        lq = {
            (g, t): math.floor(
                (math.log2(c + alpha) - math.log2(n[g] + alpha * v)) * s
            )
            for g, cc in data.items()
            for t, c in cc.items()
        }
        lqa = {
            g: math.floor(
                (math.log2(alpha) - math.log2(n[g] + alpha * v)) * s
            )
            for g in data
        }
        out = {}
        for s1, c1 in data.items():
            for s2 in data:
                tot = sm = 0
                for t, c in c1.items():
                    if (s2, t) in lq:
                        tot += c * lq[(s2, t)]
                        sm += c
                tot += (n[s1] - sm) * lqa[s2]
                out[(s1, s2)] = round(-tot / (n[s1] * s), 4)
        return out

    def test_matrix_matches_python_mirror(self, spark):
        from datatest_spark.operators import text as t

        data = {
            "a": {"x": 5, "y": 3, "z": 1},
            "b": {"x": 1, "y": 1, "w": 7},
            "c": {"q": 4},
        }
        rows = [
            (g, [tok for tok, c in cc.items() for _ in range(c)])
            for g, cc in data.items()
        ]
        df = spark.createDataFrame(rows, "source string, toks array<string>")
        got = {
            (r["src"], r["ref"]): r["h_bits"]
            for r in t.source_cross_entropy(df, "toks", "source").collect()
        }
        assert got == self._mirror(data)

    def test_gibbs_diagonal_is_row_floor(self, spark):
        from datatest_spark.operators import text as t

        data = {
            "a": {"x": 50, "y": 30, "z": 20},
            "b": {"x": 5, "w": 60, "v": 35},
        }
        rows = [
            (g, [tok for tok, c in cc.items() for _ in range(c)])
            for g, cc in data.items()
        ]
        df = spark.createDataFrame(rows, "source string, toks array<string>")
        got = {
            (r["src"], r["ref"]): r["h_bits"]
            for r in t.source_cross_entropy(df, "toks", "source").collect()
        }
        assert got[("a", "a")] < got[("a", "b")]
        assert got[("b", "b")] < got[("b", "a")]

    def test_alpha_validation_and_null_handling(self, spark):
        import pytest as _pytest

        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(None, ["x", None, "x"]), ("g", ["x"])],
            "source string, toks array<string>",
        )
        with _pytest.raises(ValueError, match="alpha"):
            t.source_cross_entropy(df, "toks", "source", alpha=0.0)
        got = {
            (r["src"], r["ref"]): r["h_bits"]
            for r in t.source_cross_entropy(df, "toks", "source").collect()
        }
        # null group coalesces, null tokens dropped: 2x2 matrix,
        # identical unigram dists -> symmetric values
        assert len(got) == 4
        assert got[("__null__", "g")] == got[("__null__", "__null__")]


class TestCommonPrefixGroups:
    def test_groups_and_short_doc_exclusion(self, spark):
        from datatest_spark.operators import dedup

        rows = [
            (1, "the same header tail one"),
            (2, "the same header tail two"),
            (3, "the same header tail three"),
            (4, "a different opening entirely here"),
            (5, "the same header"),  # 3 tokens < k -> excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.common_prefix_groups(df, k=4).collect()
        assert len(out) == 1
        (r,) = out
        assert r["prefix"] == "the same header tail"
        assert r["n_docs"] == 3 and r["doc_ids"] == [1, 2, 3]

    def test_min_docs_and_k_validation(self, spark):
        import pytest as _pytest

        from datatest_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        assert dedup.common_prefix_groups(df, k=2, min_docs=3).collect() == []
        with _pytest.raises(ValueError, match="k must be"):
            dedup.common_prefix_groups(df, k=0)


class TestPsiEquidepth:
    def test_baseline_self_zero_and_shift_detected(self, spark):
        from datatest_spark.operators import drift

        rows = [("base", float(v)) for v in range(1, 101)]
        rows += [("shift", float(v) + 40.0) for v in range(1, 101)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["group"]: r["psi"] for r in drift.psi_equidepth(
            df, "v", "g", "base", nbins=10
        ).collect()}
        assert out["base"] == 0.0
        assert out["shift"] > 0.5

    def test_heavy_tail_beats_fixed_width(self, spark):
        from datatest_spark.operators import drift

        # one extreme point stretches a fixed-width grid so far that
        # everything lands in bucket 0 and fixed-width PSI reads ~0;
        # the equi-depth boundaries come from the baseline's own
        # quantiles and still see the shift
        base = [float(v) for v in range(1, 101)] + [1e6]
        cur = [float(v) + 40.0 for v in range(1, 101)] + [1e6]
        rows = [("base", v) for v in base] + [("cur", v) for v in cur]
        df = spark.createDataFrame(rows, "g string, v double")
        hist = {}
        for r in drift.histogram(df, "v", "g", 0.0, 1e6, 10).collect():
            hist.setdefault(r["group"], {})[r["bucket"]] = float(r["p"])
        fixed = drift.psi(hist["cur"], hist["base"])
        eq = {r["group"]: r["psi"] for r in drift.psi_equidepth(
            df, "v", "g", "base", nbins=10
        ).collect()}
        assert fixed < 0.01        # fixed-width grid is blind here
        assert eq["cur"] > 0.5     # equi-depth sees the shift

    def test_validation_and_missing_baseline(self, spark):
        import pytest as _pytest

        from datatest_spark.operators import drift

        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with _pytest.raises(ValueError, match="nbins"):
            drift.psi_equidepth(df, "v", "g", "g", nbins=1)
        with _pytest.raises(Exception, match="baseline_group"):
            drift.psi_equidepth(df, "v", "g", "nope").collect()


class TestRobustLocation:
    def test_outlier_splits_mean_from_trimmed(self, spark):
        from datatest_spark.operators.stats import robust_location

        vals = [float(v) for v in range(1, 100)] + [100000.0]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "g string, v double"
        )
        (r,) = robust_location(df, "v", "g", trim=0.05).collect()
        assert r["n"] == 100
        # the single blowup drags the mean ~1000 over the trimmed mean
        assert r["mean"] > r["trimmed_mean"] + 900
        # winsorized clamps the blowup to hi: between the two (equal to
        # trimmed here — this fixture's tails are symmetric around the
        # center, so clamping adds exactly offsetting mass)
        assert r["trimmed_mean"] <= r["winsorized_mean"] < r["mean"]
        # trimmed excludes both tails
        assert r["n_trimmed"] < r["n"]

    def test_trim_zero_equals_plain_mean(self, spark):
        from datatest_spark.operators.stats import robust_location

        df = spark.createDataFrame(
            [("g", float(v)) for v in (1, 2, 3, 4)], "g string, v double"
        )
        (r,) = robust_location(df, "v", "g", trim=0.0).collect()
        assert r["mean"] == r["trimmed_mean"] == r["winsorized_mean"] == 2.5

    def test_validation_and_all_null_group_absent(self, spark):
        import pytest as _pytest

        from datatest_spark.operators.stats import robust_location

        df = spark.createDataFrame(
            [("g", 1.0), ("nulls", None)], "g string, v double"
        )
        with _pytest.raises(ValueError, match="trim"):
            robust_location(df, "v", "g", trim=0.5)
        got = {r["group"] for r in robust_location(df, "v", "g").collect()}
        assert got == {"g"}


class TestCusumChangepoints:
    @staticmethod
    def _page(values, slack_k=0.5, threshold_h=4.0):
        import statistics as st

        mu = st.mean(values)
        sig = st.stdev(values)
        cp = cn = 0.0
        out = []
        for x in values:
            cp = max(0.0, cp + (x - mu) - slack_k * sig)
            cn = max(0.0, cn - (x - mu) - slack_k * sig)
            out.append((round(cp, 4), round(cn, 4),
                        cp > threshold_h * sig or cn > threshold_h * sig))
        return out

    def test_matches_page_recursion_and_flags_shift(self, spark):
        from datatest_spark.operators.stats import cusum_changepoints

        vals = [100, 102, 98, 101, 99, 100, 97, 103,
                101, 99, 100, 102, 98, 100, 101, 99] + [110] * 6
        rows = [("g", t, float(v)) for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "g string, t long, v double")
        got = sorted(
            cusum_changepoints(df, "v", "t", "g", scale_bits=10).collect(),
            key=lambda r: r["t"],
        )
        expect = self._page(vals)
        for r, (cp, cn, flag) in zip(got, expect):
            # scale_bits=10 quantization: within a grid step of exact
            assert abs(r["cusum_pos"] - cp) < 0.05, (r, cp)
            assert abs(r["cusum_neg"] - cn) < 0.05, (r, cn)
        # the sustained shift must flag; the stable head never does —
        # and no single shifted point exceeds a 2.5-robust-z (the
        # pointwise monitor stays silent where CUSUM accumulates)
        assert not any(r["is_change"] for r in got[:16])
        assert any(r["is_change"] for r in got[16:])

    def test_downward_shift_flags_negative_side(self, spark):
        from datatest_spark.operators.stats import cusum_changepoints

        vals = [50, 52, 48, 51, 49, 50, 52, 48,
                51, 49, 50, 52, 48, 50, 51, 49] + [40] * 6
        rows = [("g", t, float(v)) for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "g string, t long, v double")
        got = sorted(
            cusum_changepoints(df, "v", "t", "g", scale_bits=10).collect(),
            key=lambda r: r["t"],
        )
        flagged = [r for r in got if r["is_change"]]
        assert flagged and all(r["cusum_neg"] > r["cusum_pos"]
                               for r in flagged)

    def test_degenerate_groups_never_flag(self, spark):
        from datatest_spark.operators.stats import cusum_changepoints

        df = spark.createDataFrame(
            [("single", 0, 5.0), ("flat", 0, 7.0), ("flat", 1, 7.0)],
            "g string, t long, v double",
        )
        got = cusum_changepoints(df, "v", "t", "g").collect()
        assert all(not r["is_change"] for r in got)
        assert all(r["cusum_pos"] is None for r in got)

    def test_duplicate_order_raises_not_silent_nondeterminism(self, spark):
        import pytest as _pytest

        from datatest_spark.operators.stats import cusum_changepoints

        df = spark.createDataFrame(
            [("g", 0, 1.0), ("g", 0, 2.0), ("g", 1, 3.0)],
            "g string, t long, v double",
        )
        with _pytest.raises(Exception, match="duplicate"):
            cusum_changepoints(df, "v", "t", "g").collect()


class TestInspectionSample:
    def test_partitioning_invariant_and_append_stable(self, spark):
        from datatest_spark.operators.packing import inspection_sample

        rows = [(i, "s%d" % (i % 3)) for i in range(90)]
        df1 = spark.createDataFrame(rows, "doc_id long, source string")
        a = sorted(
            (r["source"], r["doc_id"], r["rank"])
            for r in inspection_sample(df1, k=4, hash_fn="md5").collect()
        )
        b = sorted(
            (r["source"], r["doc_id"], r["rank"])
            for r in inspection_sample(
                df1.repartition(17), k=4, hash_fn="md5"
            ).collect()
        )
        assert a == b and len(a) == 12
        # append stability: adding rows displaces at most the max-hash
        # member per group — the k-1 smallest of each group survive
        df2 = spark.createDataFrame(
            rows + [(i, "s%d" % (i % 3)) for i in range(90, 120)],
            "doc_id long, source string",
        )
        c = {
            (r["source"], r["doc_id"])
            for r in inspection_sample(df2, k=4, hash_fn="md5").collect()
        }
        old_top3 = {(s, d) for (s, d, rk) in a if rk <= 3}
        assert old_top3 <= c

    def test_k_validation_and_all_columns_kept(self, spark):
        import pytest as _pytest

        from datatest_spark.operators.packing import inspection_sample

        df = spark.createDataFrame(
            [(1, "s", "body")], "doc_id long, source string, text string"
        )
        with _pytest.raises(ValueError, match="k must be"):
            inspection_sample(df, k=0)
        (r,) = inspection_sample(df, k=1).collect()
        assert r["text"] == "body" and r["rank"] == 1
        # a pre-existing 'rank' column must not be silently replaced
        with _pytest.raises(ValueError, match="rank"):
            inspection_sample(df.withColumn("rank", df.doc_id), k=1)

    def test_window_group_limit_in_plan(self, spark, sf_dir):
        from datatest_spark.operators.packing import inspection_sample

        d = spark.read.parquet(sf_dir + "/documents.parquet")
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            inspection_sample(d, k=5).explain(mode="formatted")
        assert "WindowGroupLimit" in buf.getvalue()


class TestDedupImpact:
    def test_cross_source_charge_and_weights(self, spark):
        from datatest_spark.operators import dedup

        rows = [
            # group X: rep doc 1 (src a); copies 2 (a), 3 (b)
            (1, "a", "dup X", 10),
            (2, "a", "dup X", 20),
            (3, "b", "dup X", 30),
            # unique docs
            (4, "a", "solo A", 40),
            (5, "b", "solo B", 50),
            # null text: never redundant even though both hash to null
            (6, "b", None, 60),
            (7, "b", None, 70),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string, n_chars long"
        )
        got = {
            r["group"]: r
            for r in dedup.dedup_impact(df, weight_col="n_chars").collect()
        }
        a, b = got["a"], got["b"]
        assert a["n_docs"] == 3 and a["n_redundant"] == 1
        assert a["w_total"] == 70 and a["w_redundant"] == 20
        assert a["redundancy_rate"] == round(1 / 3, 6)
        # b's copy of X is charged to b even though the rep lives in a
        assert b["n_docs"] == 4 and b["n_redundant"] == 1
        assert b["w_redundant"] == 30
        assert b["w_rate"] == round(30 / 210, 6)

    def test_no_weight_col_yields_null_weight_columns(self, spark):
        from datatest_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "x")],
            "doc_id long, source string, text string",
        )
        (r,) = dedup.dedup_impact(df).collect()
        assert r["n_redundant"] == 1
        assert r["w_total"] is None
        assert r["w_redundant"] is None and r["w_rate"] is None


class TestSplitLeakage:
    @staticmethod
    def _md5_split(doc_id, bounds=(("train", 0.75), ("val", 0.875))):
        import hashlib

        h = hashlib.md5(("%s#split#0" % doc_id).encode()).hexdigest()
        u = int(h[:4], 16) / 65536.0
        for name, ub in bounds:
            if u < ub:
                return name
        return "test"

    def test_straddling_groups_only(self, spark):
        from datatest_spark.operators import dedup

        # find ids whose md5 split assignments differ / agree, so the
        # fixture is deterministic rather than probabilistic
        ids = list(range(200))
        by_split = {}
        for i in ids:
            by_split.setdefault(self._md5_split(i), []).append(i)
        train = by_split["train"]
        other = by_split["val"] + by_split["test"]
        leak_ids = [train[0], other[0]]          # straddles
        safe_ids = [train[1], train[2]]          # same split twice
        rows = [(i, "LEAKED CONTENT") for i in leak_ids]
        rows += [(i, "safe content") for i in safe_ids]
        rows += [(train[3], "unique content")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.split_leakage(
            df, {"train": 0.75, "val": 0.125, "test": 0.125},
            hash_fn="md5",
        ).collect()
        assert len(out) == 1
        (r,) = out
        assert r["doc_ids"] == sorted(leak_ids)
        assert r["n_docs"] == 2 and r["n_splits"] == 2
        assert r["splits"][0] == "train"

    def test_content_keyed_split_never_leaks(self, spark):
        from datatest_spark.operators import dedup

        # the documented remediation: split on the CONTENT key instead
        # of the id -> every copy lands in one split by construction
        from pyspark.sql import functions as SF

        rows = [(i, "dup text %d" % (i % 3)) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df = df.withColumn("content_key", SF.md5("text"))
        out = dedup.split_leakage(
            df, {"train": 0.5, "test": 0.5},
            id_col="content_key", hash_fn="md5",
        ).collect()
        assert out == []


class TestConcentrationIndices:
    def test_hand_case_against_python(self, spark):
        from datatest_spark.operators.stats import concentration_indices

        masses = {"a": 1, "b": 2, "c": 3, "d": 6}
        rows = [(g,) for g, m in masses.items() for _ in range(m)]
        df = spark.createDataFrame(rows, "s string")
        (r,) = concentration_indices(df, "s").collect()
        xs = sorted(masses.values())
        n, tot = len(xs), sum(xs)
        gini = 2.0 * sum((i + 1) * x for i, x in enumerate(xs)) / (
            n * tot
        ) - (n + 1.0) / n
        hhi = sum(float(x) * x for x in xs) / (float(tot) * tot)
        assert r["n_groups"] == 4 and r["total"] == 12
        assert r["top_group"] == "d" and r["top_share"] == 0.5
        assert r["gini"] == round(gini, 6)
        assert r["hhi"] == round(hhi, 6)

    def test_uniform_is_zero_gini_monopoly_is_one_hhi(self, spark):
        from datatest_spark.operators.stats import concentration_indices

        uni = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("d",)], "s string"
        )
        (r,) = concentration_indices(uni, "s").collect()
        assert r["gini"] == 0.0 and r["hhi"] == 0.25
        mono = spark.createDataFrame([("only",)] * 7, "s string")
        (r,) = concentration_indices(mono, "s").collect()
        assert r["gini"] == 0.0 and r["hhi"] == 1.0 and r["top_share"] == 1.0

    def test_weighted_and_null_group(self, spark):
        from datatest_spark.operators.stats import concentration_indices

        df = spark.createDataFrame(
            [("a", 9), ("a", 1), (None, 10), ("b", None)],
            "s string, w long",
        )
        (r,) = concentration_indices(df, "s", weight_col="w").collect()
        # b's only weight is null -> sum null -> the group drops;
        # null group coalesces to '__null__' and ties with a at 10,
        # so the ascending group-asc tie-break ranks '__null__' first
        # and 'a' is the top group; equal masses -> gini exactly 0
        assert r["n_groups"] == 2 and r["total"] == 20
        assert r["top_group"] == "a"
        assert r["hhi"] == 0.5 and r["gini"] == 0.0

    def test_empty_frame_yields_nulls_not_blowup(self, spark):
        from datatest_spark.operators.stats import concentration_indices

        df = spark.createDataFrame([], "s string")
        (r,) = concentration_indices(df, "s").collect()
        assert r["n_groups"] == 0
        assert r["gini"] is None and r["hhi"] is None


class TestReviewFixesR3:
    def test_decontaminate_custom_id_col(self, spark):
        from datatest_spark.operators import decontam

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "all clean here friend")],
            "id long, text string",
        )
        bench = spark.createDataFrame([(9, "alpha beta gamma delta")],
                                      "id long, text string")
        kept = decontam.decontaminate(corpus, bench, id_col="id", k=4)
        assert [r["id"] for r in kept.collect()] == [2]

    def test_token_run_stats_bigint_arrays(self, spark):
        from datatest_spark.operators import text as t

        # Python int lists infer array<bigint>; the accumulator must
        # adopt the element type instead of failing analysis
        df = spark.createDataFrame([(1, [5, 5, 3])], ["doc_id", "tokens"])
        assert dict(df.dtypes)["tokens"] == "array<bigint>"
        r = t.token_run_stats(df).collect()[0]
        assert r["max_run"] == 2

    def test_repetition_signals_null_text_absent(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame([(1, None), (2, "a b")],
                                   "doc_id long, text string")
        rows = t.repetition_signals(df, n=2).collect()
        assert [r["doc_id"] for r in rows] == [2]


class TestVocabAndKs:
    def test_vocab_topk_counts_and_ties(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [("a", [1, 1, 2, 3]), ("a", [1, 2]), ("b", [9])],
            "source string, tokens array<int>",
        )
        rows = sorted(
            (r["group"], r["token"], r["n"], r["rank"])
            for r in t.vocab_topk(df, k=2).collect()
        )
        # source a: token 1 x3, then tie 2x2... token 2 appears twice,
        # 3 once -> top2 = [1 (3), 2 (2)]
        assert rows == [("a", 1, 3, 1), ("a", 2, 2, 2), ("b", 9, 1, 1)]

    def test_ks_identical_and_disjoint(self, spark):
        from datatest_spark.operators import drift

        base = [("base", float(v)) for v in range(10)]
        same = [("same", float(v)) for v in range(10)]
        far = [("far", 900.0 + v) for v in range(10)]
        df = spark.createDataFrame(base + same + far, "source string, x double")
        ks = {
            r["group"]: r["ks"]
            for r in drift.ks_from_histogram(
                df, "x", "source", "base", lo=0.0, hi=1000.0, nbins=10
            ).collect()
        }
        assert ks["base"] == 0.0  # self-comparison
        assert ks["same"] == 0.0  # identical distribution
        assert ks["far"] == 1.0  # fully separated CDFs

    def test_ks_missing_bucket_carries_cdf(self, spark):
        from datatest_spark.operators import drift

        # group 'g' occupies bucket 1 only; baseline spreads over 1 and 10.
        # At buckets 2..9 g's CDF must carry 1.0 (dense grid), giving
        # ks = 0.5 (|1.0 - 0.5| at the gap), not 0.0 from a sparse join.
        df = spark.createDataFrame(
            [("b", 50.0), ("b", 950.0), ("g", 50.0), ("g", 60.0)],
            "source string, x double",
        )
        ks = {
            r["group"]: r["ks"]
            for r in drift.ks_from_histogram(
                df, "x", "source", "b", lo=0.0, hi=1000.0, nbins=10
            ).collect()
        }
        assert ks["g"] == 0.5

    def test_ks_missing_baseline_raises(self, spark):
        from datatest_spark.operators import drift

        df = spark.createDataFrame([("a", 1.0)], "source string, x double")
        with pytest.raises(Exception, match="baseline_group"):
            drift.ks_from_histogram(
                df, "x", "source", "nope", lo=0.0, hi=10.0, nbins=5
            ).collect()

    def test_emd_scales_with_shift_distance(self, spark):
        from datatest_spark.operators import drift

        # KS reads 1.0 for ANY fully-separated pair; EMD must grow with
        # the distance the mass moved: a one-bucket shift (100 units)
        # vs a nine-bucket shift (900 units).
        base = [("base", 50.0)] * 4
        near = [("near", 150.0)] * 4
        far = [("far", 950.0)] * 4
        df = spark.createDataFrame(base + near + far, "source string, x double")
        emd = {
            r["group"]: r["emd"]
            for r in drift.emd_from_histogram(
                df, "x", "source", "base", lo=0.0, hi=1000.0, nbins=10
            ).collect()
        }
        assert emd["base"] == 0.0
        assert emd["near"] == 100.0
        assert emd["far"] == 900.0

    def test_emd_missing_bucket_carries_cdf(self, spark):
        from datatest_spark.operators import drift

        # same dense-grid trap as KS: group 'g' sits in bucket 1,
        # baseline splits between buckets 1 and 10 -> |CDF diff| = 0.5
        # across the 8 empty interior buckets plus bucket 1 itself,
        # 9 * 0.5 * 100 = 450; a sparse join would read 0.
        df = spark.createDataFrame(
            [("b", 50.0), ("b", 950.0), ("g", 50.0), ("g", 60.0)],
            "source string, x double",
        )
        emd = {
            r["group"]: r["emd"]
            for r in drift.emd_from_histogram(
                df, "x", "source", "b", lo=0.0, hi=1000.0, nbins=10
            ).collect()
        }
        assert emd["g"] == 450.0

    def test_emd_missing_baseline_raises(self, spark):
        from datatest_spark.operators import drift

        df = spark.createDataFrame([("a", 1.0)], "source string, x double")
        with pytest.raises(Exception, match="baseline_group"):
            drift.emd_from_histogram(
                df, "x", "source", "nope", lo=0.0, hi=10.0, nbins=5
            ).collect()


class TestBigramLM:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, ["a", "a", "b"]), (2, ["a", "b"])],
            "doc_id long, tokens array<string>",
        )

    def test_self_model_values(self, spark):
        import math

        # pair counts: (a,a): 1, (a,b): 2; context a: 3
        s = 1 << 20
        lp_aa = math.floor(math.log2(1 / 3) * s)
        lp_ab = math.floor(math.log2(2 / 3) * s)
        rows = {
            r["doc_id"]: r
            for r in text.bigram_logloss(self._df(spark)).collect()
        }
        assert rows[1]["n_pairs"] == 2 and rows[1]["n_oov_pairs"] == 0
        assert rows[1]["bits_per_pair"] == round(-(lp_aa + lp_ab) / s / 2, 4)
        assert rows[2]["bits_per_pair"] == round(-lp_ab / s, 4)

    def test_nulls_short_and_missing_arrays(self, spark):
        df = spark.createDataFrame(
            [(1, ["a", None, "b"]), (2, ["a"]), (3, []), (4, None),
             (5, ["a", "b"])],
            "doc_id long, tokens array<string>",
        )
        rows = {
            r["doc_id"]: r for r in text.bigram_logloss(df).collect()
        }
        # null element dropped BEFORE pairing: doc 1 pairs (a, b)
        assert rows[1]["n_pairs"] == 1
        assert rows[1]["bits_per_pair"] == rows[5]["bits_per_pair"]
        for d in (2, 3, 4):
            assert rows[d]["n_pairs"] == 0
            assert rows[d]["bits_per_pair"] is None

    def test_oov_pairs_counted_not_scored(self, spark):
        model = text.bigram_model(self._df(spark))
        score = spark.createDataFrame(
            [(9, ["a", "b", "z"])], "doc_id long, tokens array<string>"
        )
        r = text.bigram_logloss(score, model=model).collect()[0]
        # (a,b) known; (b,z) OOV
        assert r["n_pairs"] == 2 and r["n_oov_pairs"] == 1
        assert r["bits_per_pair"] is not None


class TestContextLengthProfile:
    def test_hand_example(self, spark):
        from datatest_spark.operators.stats import context_length_profile

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "a", 50), (4, "b", 100),
             (5, "a", None), (6, "a", -5), (7, None, 30)],
            "doc_id long, source string, n long",
        )
        rows = {
            r["group"]: r
            for r in context_length_profile(
                df, length_col="n", group_col="source", capacity=30
            ).collect()
        }
        a = rows["a"]
        assert a["n_docs"] == 3  # null and negative lengths dropped
        assert a["total_tokens"] == 80 and a["max_len"] == 50
        assert a["p50_len"] == 20.0
        assert a["n_over"] == 1
        assert a["overflow_token_frac"] == round(20 / 80, 6)
        assert a["packs_needed"] == 3  # ceil(80/30)
        assert rows["__null__"]["n_docs"] == 1
        assert rows["b"]["overflow_token_frac"] == 0.7

    def test_invalid_capacity(self, spark):
        from datatest_spark.operators.stats import context_length_profile

        df = spark.createDataFrame([(1, "a", 5)],
                                   "doc_id long, source string, n long")
        with pytest.raises(ValueError, match="capacity"):
            context_length_profile(df, length_col="n", capacity=0)

    def test_zero_length_group_pins_null_overflow_frac(self, spark):
        # ADVICE r4: SUM(L)=0 made overflow_token_frac engine-dependent
        # (NULL vs NaN vs ANSI throw) — pinned to NULL everywhere
        from datatest_spark.operators.stats import context_length_profile

        df = spark.createDataFrame(
            [(1, "z", 0), (2, "z", 0), (3, "a", 10)],
            "doc_id long, source string, n long",
        )
        rows = {r["group"]: r for r in context_length_profile(
            df, length_col="n", group_col="source", capacity=5).collect()}
        assert rows["z"]["overflow_token_frac"] is None
        assert rows["z"]["packs_needed"] == 0
        assert rows["a"]["overflow_token_frac"] == 0.5

    def test_approx_agrees_with_exact(self, spark):
        # the 10^12 path (exact=False, GK sketch with fixed per-group
        # memory) must agree with the exact buffer-everything variant
        # within the sketch tolerance; at this accuracy on small groups
        # the sketch is rank-exact, so agreement is exact
        from datatest_spark.operators.stats import context_length_profile

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 3), (i * 37) % 500) for i in range(300)],
            "doc_id long, source string, n long",
        )
        ex = {r["group"]: r for r in context_length_profile(
            df, length_col="n", capacity=100, exact=True).collect()}
        ap = {r["group"]: r for r in context_length_profile(
            df, length_col="n", capacity=100, exact=False).collect()}
        assert set(ex) == set(ap)
        for g in ex:
            for c in ("n_docs", "total_tokens", "max_len", "n_over",
                      "overflow_token_frac", "packs_needed"):
                assert ex[g][c] == ap[g][c], (g, c)
            # exact percentile interpolates; disc sketch returns a data
            # value one rank away at most on this fixture
            assert abs(ex[g]["p50_len"] - ap[g]["p50_len"]) <= 6.0
            assert abs(ex[g]["p95_len"] - ap[g]["p95_len"]) <= 6.0


class TestMixturePlan:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "web", 100), (2, "web", 300), (3, "wiki", 50),
             (4, None, 25), (5, "web", None)],
            "doc_id long, source string, n_tok long",
        )

    def test_rates_hit_token_targets(self, spark):
        from datatest_spark.operators.packing import mixture_plan

        rows = {
            r["source"]: r
            for r in mixture_plan(
                self._df(spark),
                {"web": 100, "wiki": 100, "ghost": 10},
            ).collect()
        }
        assert rows["web"]["available_tokens"] == 400
        assert rows["web"]["rate"] == 0.25
        assert rows["wiki"]["rate"] == 2.0  # oversample epochs
        assert rows["__null__"]["rate"] == 0.0  # no target
        assert "ghost" not in rows  # absent source ignored

    def test_max_rate_clamps(self, spark):
        from datatest_spark.operators.packing import mixture_plan

        rows = {
            r["source"]: r["rate"]
            for r in mixture_plan(
                self._df(spark), {"wiki": 500}, max_rate=4.0
            ).collect()
        }
        assert rows["wiki"] == 4.0
        # sources WITHOUT a target must stay 0 under max_rate too —
        # F.least skips nulls, so an unclamped null rate would become
        # max_rate and mixture_sample would keep 4 epochs of a source
        # that should be dropped
        assert rows["web"] == 0.0 and rows["__null__"] == 0.0

    def test_mixed_type_target_keys(self, spark):
        from datatest_spark.operators.packing import mixture_plan

        df = spark.createDataFrame(
            [(1, 7, 100), (2, None, 50)],
            "doc_id long, source long, n_tok long",
        )
        rows = {
            r["source"]: r["rate"]
            for r in mixture_plan(
                df, {7: 50, "__null__": 100}
            ).collect()
        }
        assert rows["7"] == 0.5 and rows["__null__"] == 2.0

    def test_feeds_mixture_sample(self, spark):
        from datatest_spark.operators.packing import (
            mixture_plan, mixture_sample,
        )

        df = self._df(spark).where(F.col("n_tok").isNotNull())
        plan = {
            r["source"]: r["rate"]
            for r in mixture_plan(df, {"web": 200}).collect()
        }
        kept = mixture_sample(df, plan).groupBy("source").count().collect()
        assert all(r["source"] == "web" for r in kept)

    def test_invalid_targets_rejected(self, spark):
        from datatest_spark.operators.packing import mixture_plan

        with pytest.raises(ValueError, match="target"):
            mixture_plan(self._df(spark), {"web": -1})
        with pytest.raises(ValueError, match="max_rate"):
            mixture_plan(self._df(spark), {"web": 1}, max_rate=0)


class TestSelfRepetitionSpans:
    def test_second_occurrence_cut(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 3, 1, 2, 3, 9]), (2, [4, 5, 6, 7])],
            "doc_id long, tokens array<int>",
        )
        rows = dedup.self_repetition_spans(df, k=3).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["doc_id"] == 1
        assert (r["span_start"], r["span_end"], r["n_windows"]) == (3, 6, 1)

    def test_report_mode_merges_both_occurrences(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 3, 1, 2, 3, 9])], "doc_id long, tokens array<int>"
        )
        r = dedup.self_repetition_spans(df, k=3, keep_first=False).collect()
        assert len(r) == 1
        assert (r[0]["span_start"], r[0]["span_end"],
                r[0]["n_windows"]) == (0, 6, 2)

    def test_hashed_equals_strings(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 1, 2, 1, 2]), (2, [9, 9, 9, 9])],
            "doc_id long, tokens array<int>",
        )
        a = sorted(map(tuple,
                       dedup.self_repetition_spans(df, k=2,
                                                   hashed=True).collect()))
        b = sorted(map(tuple,
                       dedup.self_repetition_spans(df, k=2,
                                                   hashed=False).collect()))
        assert a == b and len(a) == 2

    def test_single_exchange_plan(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 1, 2])], "doc_id long, tokens array<int>"
        )
        plan = (
            dedup.self_repetition_spans(df, k=2)._jdf.queryExecution()
            .executedPlan().toString()
        )
        import re
        # one explode, one hash exchange on doc_id (the occurrence flag
        # and the island merge share it; only a Sort separates them)
        assert plan.count("Generate posexplode") == 1
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


class TestHashSplit:
    def test_partition_and_stability(self, spark):
        from datatest_spark.operators.packing import hash_split

        df = spark.range(2000).select(F.col("id").alias("doc_id"))
        out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert set(counts) == {"train", "val", "test"}
        assert sum(counts.values()) == 2000
        assert 0.7 < counts["train"] / 2000 < 0.9
        # growing the corpus never reassigns existing rows
        grown = hash_split(
            spark.range(4000).select(F.col("id").alias("doc_id")),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        a = {r["doc_id"]: r["split"] for r in out.collect()}
        b = {r["doc_id"]: r["split"]
             for r in grown.where("doc_id < 2000").collect()}
        assert a == b

    def test_split_independent_of_mixture_sampling(self, spark):
        # the split hash carries a 'split' domain tag: with a SHARED
        # hash, sampling at 0.5 then splitting 50/50 would put every
        # survivor in the first split (both decisions read the same u)
        from datatest_spark.operators.packing import (
            hash_split, mixture_sample,
        )

        df = spark.range(4000).select(
            F.col("id").alias("doc_id"), F.lit("web").alias("source")
        )
        kept = mixture_sample(df, {"web": 0.5})
        counts = {
            r["split"]: r["n"]
            for r in hash_split(kept, {"a": 0.5, "b": 0.5})
            .groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        n = sum(counts.values())
        assert set(counts) == {"a", "b"}
        assert 0.35 < counts["a"] / n < 0.65

    def test_md5_variant_engine_portable_and_weights_normalized(self, spark):
        from datatest_spark.operators.packing import hash_split

        df = spark.range(500).select(F.col("id").alias("doc_id"))
        a = hash_split(df, {"x": 2, "y": 2}, hash_fn="md5").collect()
        b = hash_split(df, {"x": 0.5, "y": 0.5}, hash_fn="md5").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_single_bucket_and_validation(self, spark):
        from datatest_spark.operators.packing import hash_split

        df = spark.range(10).select(F.col("id").alias("doc_id"))
        assert all(r["split"] == "all"
                   for r in hash_split(df, {"all": 1.0}).collect())
        with pytest.raises(ValueError, match="non-empty"):
            hash_split(df, {})
        with pytest.raises(ValueError, match=">= 0"):
            hash_split(df, {"a": -1})
        with pytest.raises(ValueError, match="sum"):
            hash_split(df, {"a": 0.0})

    def test_map_only_plan(self, spark):
        from datatest_spark.operators.packing import hash_split

        df = spark.range(10).select(F.col("id").alias("doc_id"))
        plan = (
            hash_split(df, {"a": 1, "b": 1})._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestContainmentPairs:
    def test_embedded_short_doc(self, spark):
        long_words = " ".join("w{0}".format(i) for i in range(60))
        short_words = " ".join("w{0}".format(i) for i in range(20, 32))
        df = spark.createDataFrame(
            [(1, long_words), (2, short_words)], "doc_id long, text string"
        )
        rows = dedup.containment_pairs(df, k=5, threshold=0.8).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["doc_a"], r["doc_b"]) == (1, 2)
        # every shingle of the short doc occurs in the long one
        assert r["containment_ba"] == 1.0
        assert r["containment_ab"] < 0.2  # and A is barely covered by B
        assert r["jaccard"] < 0.2  # jaccard alone would miss this pair

    def test_clones_fully_contained_both_ways(self, spark):
        words = " ".join("t{0}".format(i) for i in range(30))
        df = spark.createDataFrame(
            [(1, words), (2, words)], "doc_id long, text string"
        )
        r = dedup.containment_pairs(df, k=5, threshold=0.9).collect()[0]
        assert r["containment_ab"] == r["containment_ba"] == 1.0
        assert r["jaccard"] == 1.0

    def test_threshold_prunes(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e zzz")],
            "doc_id long, text string",
        )
        # k=5: doc1 {abcde,bcdef}, doc2 {abcde,bcdezzz}: c=0.5 both ways
        assert dedup.containment_pairs(df, k=5, threshold=0.8).count() == 0
        assert dedup.containment_pairs(df, k=5, threshold=0.5).count() == 1


class TestQualityBands:
    def test_bands_partition_and_order(self, spark):
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame(
            [(i, "a", float(i)) for i in range(10)]
            + [(100, "b", 5.0), (101, "b", None)],
            "doc_id long, source string, score double",
        )
        rows = {r["doc_id"]: r["band"] for r in
                quality_bands(df, "score", n_bands=5, exact=True).collect()}
        # group a: 10 docs over 5 bands -> 2 per band, ascending score
        assert rows[0] == rows[1] == 1
        assert rows[8] == rows[9] == 5
        # group b: null score sorts first -> band 1
        assert rows[101] == 1 and rows[100] == 2

    def test_invalid_bands(self, spark):
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "doc_id long, source string, score double")
        with pytest.raises(ValueError, match="n_bands"):
            quality_bands(df, "score", n_bands=0)

    def test_approx_matches_ntile_on_distinct_scores(self, spark):
        # distinct scores + group size divisible by n_bands: the
        # boundary-based assignment must agree with NTILE exactly
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame(
            [(i, "a", float(i * 7 % 100)) for i in range(20)]
            + [(100 + i, "b", float(i)) for i in range(10)],
            "doc_id long, source string, score double",
        )
        exact = {r["doc_id"]: r["band"] for r in
                 quality_bands(df, "score", n_bands=5, exact=True).collect()}
        approx = {r["doc_id"]: r["band"] for r in
                  quality_bands(df, "score", n_bands=5).collect()}
        assert exact == approx

    def test_approx_nulls_and_ties(self, spark):
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame(
            # 8 tied scores + 2 extremes: ties share a band (value-based)
            [(i, "a", 5.0) for i in range(8)]
            + [(8, "a", 0.0), (9, "a", 9.0), (10, "a", None)],
            "doc_id long, source string, score double",
        )
        rows = {r["doc_id"]: r["band"] for r in
                quality_bands(df, "score", n_bands=5).collect()}
        tied = {rows[i] for i in range(8)}
        assert len(tied) == 1          # all ties in ONE band
        assert rows[10] == 1           # null score -> band 1
        assert rows[8] == 1            # minimum -> band 1
        assert rows[9] > rows[0]       # max lands above the tied mass

    def test_approx_null_group_bands_itself(self, spark):
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame(
            [(i, None, float(i)) for i in range(10)]
            + [(100, "a", 3.0)],
            "doc_id long, source string, score double",
        )
        rows = {r["doc_id"]: r["band"] for r in
                quality_bands(df, "score", n_bands=5).collect()}
        # the null group must find its own boundary row (eqNullSafe):
        # its top scores land in the top band, not all in band 1
        assert rows[9] == 5 and rows[0] == 1
        assert rows[100] == 1

    def test_approx_single_band_and_all_null_group(self, spark):
        from datatest_spark.operators.stats import quality_bands

        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", None), (3, "b", None)],
            "doc_id long, source string, score double",
        )
        one = {r["doc_id"]: r["band"] for r in
               quality_bands(df, "score", n_bands=1).collect()}
        assert set(one.values()) == {1}
        rows = {r["doc_id"]: r["band"] for r in
                quality_bands(df, "score", n_bands=4).collect()}
        # all-null group: null bounds array coalesces to empty -> band 1
        assert rows[2] == 1 and rows[3] == 1


class TestGroupCorr:
    def test_perfect_lines(self, spark):
        from datatest_spark.operators.stats import group_corr

        rows = [("a", x, 3 * x + 2) for x in range(1, 6)]
        rows += [("b", x, 10 - 2 * x) for x in range(1, 6)]
        df = spark.createDataFrame(rows, "source string, x long, y long")
        out = {r["group"]: r for r in group_corr(df, "x", "y").collect()}
        assert out["a"]["corr"] == 1.0 and out["a"]["slope"] == 3.0
        assert out["a"]["intercept"] == 2.0
        assert out["b"]["corr"] == -1.0 and out["b"]["slope"] == -2.0

    def test_zero_variance_and_small_n_are_null(self, spark):
        from datatest_spark.operators.stats import group_corr

        df = spark.createDataFrame(
            [("c", 5, 1), ("c", 5, 2), ("c", 5, 3),  # x constant
             ("d", 1, 9)],                            # n = 1
            "source string, x long, y long",
        )
        out = {r["group"]: r for r in group_corr(df, "x", "y").collect()}
        assert out["c"]["corr"] is None and out["c"]["slope"] is None
        assert out["d"]["corr"] is None and out["d"]["n"] == 1

    def test_pairwise_null_deletion_and_null_group(self, spark):
        from datatest_spark.operators.stats import group_corr

        df = spark.createDataFrame(
            [(None, 1.0, 2.0), (None, 2.0, 4.0), (None, 3.0, None),
             (None, None, 8.0)],
            "source string, x double, y double",
        )
        out = group_corr(df, "x", "y").collect()
        assert len(out) == 1
        r = out[0]
        assert r["group"] == "__null__" and r["n"] == 2 and r["corr"] == 1.0

    def test_scale_bits_quantizes_fractions(self, spark):
        from datatest_spark.operators.stats import group_corr

        # x in quarter steps: exact at scale_bits=2 (x*4 integral).
        # Both columns scale by 2^bits, so the slope stays in RAW
        # units: y = i on x = 0.25*i -> dy/dx = 4.
        rows = [("a", 0.25 * i, float(i)) for i in range(1, 9)]
        df = spark.createDataFrame(rows, "source string, x double, y double")
        r = group_corr(df, "x", "y", scale_bits=2).collect()[0]
        assert r["corr"] == 1.0 and r["slope"] == 4.0

    def test_parallelism_invariance(self, spark):
        from datatest_spark.operators.stats import group_corr

        rows = [("g%d" % (i % 3), i * 7 % 23, i * 13 % 29)
                for i in range(200)]
        df = spark.createDataFrame(rows, "source string, x long, y long")
        a = sorted(map(tuple, group_corr(df.coalesce(1), "x", "y").collect()))
        b = sorted(map(tuple, group_corr(df.repartition(16), "x", "y").collect()))
        assert a == b


class TestMadOutliers:
    def test_hand_example(self, spark):
        from datatest_spark.operators.stats import mad_outliers

        df = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 12.0), (3, "a", 11.0),
             (4, "a", 9.0), (5, "a", 1000.0), (6, "a", None),
             (7, "b", 5.0), (8, "b", 5.0), (9, "b", 5.0)],
            "doc_id long, source string, v double",
        )
        rows = mad_outliers(df, "v", threshold=3.5).collect()
        # group a: med=11 (of 9,10,11,12,1000), MAD=med(|x-11|)=1
        # (|9-11|,|10-11|,0,1,989 -> 1,1,0,1,989 -> med 1);
        # only 1000 has |z| = 989/1.4826 >> 3.5. group b: MAD=0 -> none.
        assert len(rows) == 1
        r = rows[0]
        assert r["doc_id"] == 5 and r["med"] == 11.0 and r["mad"] == 1.0
        assert r["robust_z"] == round(989.0 / 1.4826, 4)

    def test_zero_mad_group_yields_no_outliers(self, spark):
        from datatest_spark.operators.stats import mad_outliers

        df = spark.createDataFrame(
            [(i, "c", 7.0) for i in range(9)] + [(99, "c", 8.0)],
            "doc_id long, source string, v double",
        )
        # 90% identical: MAD = 0, the 8.0 row must NOT be flagged
        assert mad_outliers(df, "v", threshold=1.0).count() == 0

    def test_null_group_and_null_values(self, spark):
        from datatest_spark.operators.stats import mad_outliers

        df = spark.createDataFrame(
            [(1, None, 1.0), (2, None, 2.0), (3, None, 3.0),
             (4, None, 100.0), (5, None, None)],
            "doc_id long, source string, v double",
        )
        rows = mad_outliers(df, "v", threshold=3.5).collect()
        assert [r["doc_id"] for r in rows] == [4]

    def test_approx_agrees_with_exact(self, spark):
        from datatest_spark.operators.stats import mad_outliers

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 2), float((i * 13) % 97)) for i in range(200)]
            + [(900, "s0", 5000.0), (901, "s1", -4000.0)],
            "doc_id long, source string, v double",
        )
        ex = {r["doc_id"] for r in
              mad_outliers(df, "v", threshold=3.5, exact=True).collect()}
        ap = {r["doc_id"] for r in
              mad_outliers(df, "v", threshold=3.5, exact=False).collect()}
        assert ex == ap == {900, 901}

    def test_invalid_threshold(self, spark):
        from datatest_spark.operators.stats import mad_outliers

        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "doc_id long, source string, v double")
        with pytest.raises(ValueError, match="threshold"):
            mad_outliers(df, "v", threshold=0)


class TestLshPlan:
    def test_balanced_pick_near_threshold(self):
        from datatest_spark.operators.dedup import lsh_plan

        p = lsh_plan(0.5, num_hashes=128)
        assert p["bands"] * p["rows_per_band"] <= 128
        assert abs(p["inflection"] - 0.5) < 0.06
        # S-curve sanity: candidate probability is monotone in s
        vals = [p["curve"][round(s / 10.0, 1)] for s in range(1, 10)]
        assert vals == sorted(vals)

    def test_recall_vs_precision_ordering(self):
        from datatest_spark.operators.dedup import lsh_plan

        bal = lsh_plan(0.6, 128, target="balanced")
        rec = lsh_plan(0.6, 128, target="recall")
        pre = lsh_plan(0.6, 128, target="precision")
        assert rec["p_at_threshold"] >= bal["p_at_threshold"]
        assert pre["p_at_threshold"] <= bal["p_at_threshold"]

    def test_matches_lsh_pairs_defaults(self):
        # the defaults minhash_lsh_pairs ships (8 hashes, 4 bands of 2)
        # are what the planner picks for a mid-range threshold at n=8
        from datatest_spark.operators.dedup import lsh_plan

        p = lsh_plan(0.35, num_hashes=8)
        assert p["bands"] == 4 and p["rows_per_band"] == 2

    def test_validation(self):
        from datatest_spark.operators.dedup import lsh_plan

        with pytest.raises(ValueError, match="threshold"):
            lsh_plan(0.0)
        with pytest.raises(ValueError, match="num_hashes"):
            lsh_plan(0.5, 1)
        with pytest.raises(ValueError, match="target"):
            lsh_plan(0.5, 128, target="nope")

    def test_never_degenerates_to_one_band(self):
        # review finding: b==1 candidates carried a fake inflection of
        # 0.0, letting precision picks at low thresholds return a
        # 1-band plan whose candidate probability at s=0.9 was ~0.001
        from datatest_spark.operators.dedup import lsh_plan

        for t in (0.05, 0.08, 0.2, 0.5, 0.9):
            for target in ("balanced", "recall", "precision"):
                p = lsh_plan(t, 128, target=target)
                assert p["bands"] >= 2, (t, target, p)
                # a true near-dup well above threshold must be likely
                s = min(0.95, t + 0.4)
                prob = 1 - (1 - s ** p["rows_per_band"]) ** p["bands"]
                assert prob > 0.5, (t, target, p, prob)


class TestZipfFit:
    def test_perfect_powerlaw_recovers_slope(self, spark):
        from datatest_spark.operators.text import zipf_fit

        # token r repeated floor(1024/r) times: counts ~ 1/rank -> slope
        # ~ -1 with near-perfect fit
        rows = []
        for r in range(1, 33):
            rows.extend([("a", "tok%03d" % r)] * (1024 // r))
        df = spark.createDataFrame(rows, "source string, w string").groupBy(
            "source"
        ).agg(F.collect_list("w").alias("tokens"))
        out = zipf_fit(df, group_col="source").collect()[0]
        assert out["vocab_k"] == 32
        assert -1.1 < out["slope"] < -0.9
        assert out["r2"] > 0.98

    def test_uniform_counts_have_zero_slope(self, spark):
        from datatest_spark.operators.text import zipf_fit

        rows = [("u", "t%d" % i) for i in range(20)] * 5
        df = spark.createDataFrame(rows, "source string, w string").groupBy(
            "source"
        ).agg(F.collect_list("w").alias("tokens"))
        out = zipf_fit(df).collect()[0]
        assert out["slope"] == 0.0  # all y equal -> flat line, r2 null
        assert out["r2"] is None

    def test_single_token_group_yields_nulls(self, spark):
        from datatest_spark.operators.text import zipf_fit

        df = spark.createDataFrame(
            [("s", ["only", "only", "only"])],
            "source string, tokens array<string>",
        )
        out = zipf_fit(df).collect()[0]
        assert out["vocab_k"] == 1
        assert out["slope"] is None and out["r2"] is None

    def test_max_rank_caps_fit(self, spark):
        from datatest_spark.operators.text import zipf_fit

        rows = []
        for r in range(1, 11):
            rows.extend([("a", "tok%02d" % r)] * (100 // r))
        df = spark.createDataFrame(rows, "source string, w string").groupBy(
            "source"
        ).agg(F.collect_list("w").alias("tokens"))
        out = zipf_fit(df, max_rank=5).collect()[0]
        assert out["vocab_k"] == 5
        with pytest.raises(ValueError, match="max_rank"):
            zipf_fit(df, max_rank=1)

    def test_scale_bits_overflow_guard(self, spark):
        from datatest_spark.operators.text import zipf_fit

        df = spark.createDataFrame(
            [("s", ["a", "b"])], "source string, tokens array<string>"
        )
        # bigint moment products would wrap silently past the bound
        with pytest.raises(ValueError, match="scale_bits"):
            zipf_fit(df, max_rank=10000, scale_bits=16)
        # the r2 denominator k*Syy ~ max_rank^2*(50*2^sb)^2 is the
        # BINDING moment — (10000, 13) passed the old xy-only guard
        # yet wraps k*Syy at head counts ~1e14
        with pytest.raises(ValueError, match="scale_bits"):
            zipf_fit(df, max_rank=10000, scale_bits=13)
        with pytest.raises(ValueError, match="scale_bits"):
            zipf_fit(df, scale_bits=0)
        # a small max_rank leaves headroom for more precision
        assert zipf_fit(df, max_rank=100, scale_bits=16) is not None


class TestCrossSourceDuplication:
    def test_matrix_and_diagonal(self, spark):
        from datatest_spark.operators.dedup import cross_source_duplication

        df = spark.createDataFrame(
            [(1, "web", "shared one"), (2, "wiki", "shared one"),
             (3, "web", "shared two"), (4, "wiki", "shared two"),
             (5, "books", "shared one"), (6, "web", "web only"),
             (7, "web", "web dup"), (8, "web", "web dup"),
             (9, "wiki", None)],
            "doc_id long, source string, text string",
        )
        rows = {(r["source_a"], r["source_b"]): r["n_shared_texts"]
                for r in cross_source_duplication(df).collect()}
        assert rows[("web", "wiki")] == 2
        assert rows[("books", "web")] == 1
        assert rows[("books", "wiki")] == 1
        assert rows[("web", "web")] == 1      # 'web dup' within-source
        assert ("wiki", "wiki") not in rows   # null text ignored
        # a hash shared by N docs of one source still counts ONCE per pair
        assert all(v >= 1 for v in rows.values())

    def test_md5_and_xxhash_agree(self, spark):
        from datatest_spark.operators.dedup import cross_source_duplication

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 3), "t%d" % (i % 7)) for i in range(60)],
            "doc_id long, source string, text string",
        )
        a = sorted(map(tuple, cross_source_duplication(
            df, hash_fn="xxhash64").collect()))
        b = sorted(map(tuple, cross_source_duplication(
            df, hash_fn="md5").collect()))
        assert a == b
        with pytest.raises(ValueError, match="hash_fn"):
            cross_source_duplication(df, hash_fn="sha1")

    def test_column_expression_key(self, spark):
        from datatest_spark.operators.dedup import cross_source_duplication

        df = spark.createDataFrame(
            [(1, "a", "PREFIX tail one"), (2, "b", "PREFIX tail two")],
            "doc_id long, source string, text string",
        )
        rows = cross_source_duplication(
            df, text_col=F.substring(F.col("text"), 1, 6)).collect()
        assert [(r["source_a"], r["source_b"], r["n_shared_texts"])
                for r in rows] == [("a", "b", 1)]


class TestPackWholeDocs:
    def test_next_fit_hand_example(self, spark):
        from datatest_spark.operators.packing import pack_whole_docs

        df = spark.createDataFrame(
            [(1, "a", 4), (2, "a", 5), (3, "a", 3), (4, "a", 10),
             (5, "a", 11), (6, "a", 0), (7, "a", None), (8, "a", -2)],
            "doc_id long, source string, n long",
        )
        rows = {r["doc_id"]: r for r in pack_whole_docs(
            df, length_col="n", capacity=10).collect()}
        assert len(rows) == 6  # null/negative dropped
        assert (rows[1]["pack_id"], rows[1]["pack_offset"]) == (0, 0)
        assert (rows[2]["pack_id"], rows[2]["pack_offset"]) == (0, 4)
        # 4+5+3 > 10: doc 3 opens pack 1
        assert (rows[3]["pack_id"], rows[3]["pack_offset"]) == (1, 0)
        # 3+10 > 10: doc 4 opens pack 2 and fills it exactly
        assert (rows[4]["pack_id"], rows[4]["pack_offset"]) == (2, 0)
        # oversize: never packed, never perturbs the stream state
        assert rows[5]["pack_id"] is None and rows[5]["fits"] is False
        # a zero-length doc after an exactly-full pack opens the NEXT
        # pack at offset 0 — offset==capacity is not a position that
        # exists in a pack (round-5 review fix)
        assert (rows[6]["pack_id"], rows[6]["pack_offset"]) == (3, 0)
        assert all(r["fits"] for i, r in rows.items() if i != 5)

    def test_no_split_and_capacity_respected(self, spark):
        from datatest_spark.operators.packing import pack_whole_docs

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 3), (i * 37) % 120 + 1) for i in range(300)],
            "doc_id long, source string, n long",
        )
        out = pack_whole_docs(df, length_col="n", capacity=128).collect()
        sums = {}
        for r in out:
            assert r["fits"] is True
            key = (r["source"], r["pack_id"])
            sums[key] = sums.get(key, 0) + r["seq_len"]
            assert r["pack_offset"] + r["seq_len"] <= 128
        assert all(v <= 128 for v in sums.values())

    def test_sharded_streams(self, spark):
        from datatest_spark.operators.packing import pack_whole_docs

        df = spark.createDataFrame(
            [(i, "a", 50) for i in range(200)],
            "doc_id long, source string, n long",
        )
        out = pack_whole_docs(df, length_col="n", capacity=120,
                              num_shards=4).collect()
        assert len(out) == 200
        assert {r["shard"] for r in out} <= {0, 1, 2, 3}
        # within a shard: packs hold 2 docs of 50 (120 cap), offsets 0/50
        per = {}
        for r in out:
            per.setdefault((r["shard"], r["pack_id"]), []).append(
                r["pack_offset"])
        for offs in per.values():
            assert sorted(offs) in ([0], [0, 50])

    def test_invalid_capacity(self, spark):
        from datatest_spark.operators.packing import pack_whole_docs

        df = spark.createDataFrame([(1, "a", 5)],
                                   "doc_id long, source string, n long")
        with pytest.raises(ValueError, match="capacity"):
            pack_whole_docs(df, length_col="n", capacity=0)


class TestQualityAwareDedup:
    def test_score_col_keeps_best_member(self, spark):
        from datatest_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today", 0.2),
             (2, "the quick brown fox jumps over the lazy dog today", 0.9),
             (3, "the quick brown fox jumps over the lazy dog today", None),
             (4, "completely unrelated text with nothing in common here", 0.1)],
            "doc_id long, text string, score double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a long, doc_b long"
        )
        # default: min id survives
        kept_default = {r["doc_id"] for r in
                        drop_near_duplicates(df, pairs=pairs).collect()}
        assert kept_default == {1, 4}
        # score-aware: best extraction survives, null scores lose
        kept_best = {r["doc_id"] for r in drop_near_duplicates(
            df, pairs=pairs, score_col="score").collect()}
        assert kept_best == {2, 4}

    def test_score_tie_breaks_on_min_id(self, spark):
        from datatest_spark.operators.dedup import drop_near_duplicates

        df = spark.createDataFrame(
            [(5, "x", 1.0), (6, "x", 1.0), (7, "x", 1.0)],
            "doc_id long, text string, score double",
        )
        pairs = spark.createDataFrame(
            [(5, 6), (6, 7)], "doc_a long, doc_b long"
        )
        kept = {r["doc_id"] for r in drop_near_duplicates(
            df, pairs=pairs, score_col="score").collect()}
        assert kept == {5}


class TestPrefixJaccard:
    """prefix_jaccard_pairs: lossless AllPairs/PPJoin prefix filtering —
    must be VALUE-IDENTICAL to ngram_jaccard_pairs at the same
    (k, threshold, df_cap) on every fixture, including adversarial
    tie-heavy frequency profiles."""

    def _fixture(self, spark, docs):
        # clones (jaccard 1.0) + partial overlaps from concatenated halves
        clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
        return docs.unionByName(clone)

    def test_matches_naive_exact_join(self, spark, docs):
        df = self._fixture(spark, docs)
        for thr in (0.5, 0.9):
            naive = {
                tuple(r)
                for r in dedup.ngram_jaccard_pairs(
                    df, threshold=thr, df_cap=None
                ).collect()
            }
            pref = {
                tuple(r)
                for r in dedup.prefix_jaccard_pairs(
                    df, threshold=thr
                ).collect()
            }
            assert pref == naive

    def test_matches_naive_with_df_cap(self, spark, docs):
        footer = " COMMON FOOTER ONE TWO THREE"
        boiler = self._fixture(spark, docs).withColumn(
            "text", F.concat("text", F.lit(footer))
        )
        naive = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                boiler, threshold=0.9, df_cap=50
            ).collect()
        }
        pref = {
            tuple(r)
            for r in dedup.prefix_jaccard_pairs(
                boiler, threshold=0.9, df_cap=50
            ).collect()
        }
        assert pref == naive

    def test_tie_heavy_frequencies_stay_exact(self, spark):
        # every shingle unique (frequency 1 everywhere except the clone
        # pair) — canonical order degenerates to the shingle-text
        # tiebreak; losslessness must hold on pure ties
        rows = [
            (i, "w%da w%db w%dc w%dd w%de w%df" % (i, i, i, i, i, i))
            for i in range(20)
        ]
        rows.append((100, rows[0][1]))  # exact clone of doc 0
        df = spark.createDataFrame(rows, "doc_id long, text string")
        naive = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                df, k=3, threshold=0.4, df_cap=None
            ).collect()
        }
        pref = {
            tuple(r)
            for r in dedup.prefix_jaccard_pairs(
                df, k=3, threshold=0.4
            ).collect()
        }
        assert pref == naive
        assert (0, 100) in {(a, b) for a, b, _ in pref}

    def test_prefix_join_input_is_smaller(self, spark, docs):
        # the whole point: the candidate join consumes only prefix
        # shingles. At threshold 0.8 the prefix is ~20% of each doc.
        df = self._fixture(spark, docs)
        sh = dedup.doc_shingles(df)
        n_all = sh.count()
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_freq"))
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("_freq", "shingle")
        wn = Window.partitionBy("doc_id")
        ranked = sh.join(freq, "shingle").select(
            "doc_id",
            F.row_number().over(w).alias("_rank"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        p = F.least(
            F.col("_n") - F.floor(F.lit(0.8) * F.col("_n")) + 1,
            F.col("_n").cast("long"),
        )
        n_prefix = ranked.filter(F.col("_rank") <= p).count()
        assert n_prefix < 0.35 * n_all

    def test_threshold_validated(self, docs):
        with pytest.raises(ValueError, match="threshold"):
            dedup.prefix_jaccard_pairs(docs, threshold=0.0)
        with pytest.raises(ValueError, match="threshold"):
            dedup.prefix_jaccard_pairs(docs, threshold=1.5)


class TestBloomContamination:
    """bloom_contamination: map-only Bloom probe. Contract = zero false
    negatives vs the exact broadcast join; FPs bounded by the fill
    ratio; Spark bit arithmetic must agree with a pure-Python mirror of
    the same md5 double-hash."""

    def _split(self, docs):
        bench = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        return corpus, bench

    def test_no_false_negatives(self, spark, docs):
        from datatest_spark.operators import decontam

        corpus, bench = self._split(docs)
        # inject real contamination: corpus doc carrying a bench doc's text
        stolen = bench.limit(2).withColumn("doc_id", F.col("doc_id") + 500001)
        corpus = corpus.unionByName(stolen)
        exact = {
            r["doc_id"]
            for r in decontam.contamination(corpus, bench, k=5).collect()
        }
        bloom = {
            r["doc_id"]
            for r in decontam.bloom_contamination(
                corpus, bench, k=5, m_bits=1 << 16, n_hashes=5
            ).collect()
        }
        assert exact, "fixture must actually be contaminated"
        assert exact <= bloom

    def test_fp_rate_bounded_with_roomy_bitmap(self, spark, docs):
        from datatest_spark.operators import decontam

        corpus, bench = self._split(docs)
        n_corpus = corpus.count()
        # 2^22 bits vs ~40k eval shingles: fill < 5%, per-shingle FP
        # < 0.05^5 — flagged set should be exactly the truly-contaminated
        # set (empty on this dup-free corpus)
        bloom = decontam.bloom_contamination(
            corpus, bench, k=5, m_bits=1 << 22, n_hashes=5
        ).count()
        exact = decontam.contamination(corpus, bench, k=5).count()
        assert exact <= bloom <= exact + max(1, int(0.01 * n_corpus))

    def test_bitmap_python_mirror(self, spark):
        """The Spark Column probe must equal a pure-Python reimplementation
        of (md5 halves, double hash, bit test) — the same arithmetic the
        DuckDB oracle uses."""
        import hashlib

        from datatest_spark.operators import decontam

        m_bits, n_hashes, k = 1 << 10, 4, 2

        def positions(s):
            h = hashlib.md5(s.encode()).hexdigest()
            h1 = int(h[0:15], 16) % m_bits
            h2 = (int(h[15:30], 16) % m_bits) | 1
            return [(h1 + i * h2) % m_bits for i in range(n_hashes)]

        bench_rows = [(i, "alpha beta gamma delta w%d" % i) for i in range(5)]
        bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
        bitmap = decontam.bloom_bitmap(
            bench, k=k, m_bits=m_bits, n_hashes=n_hashes, hash_fn="md5"
        )
        # python mirror of the build
        def py_shingles(text):
            w = text.split(" ")
            if len(w) < k:
                return {" ".join(w)}
            return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

        expect = [0] * (m_bits // 64)
        for _, text in bench_rows:
            for s in py_shingles(text):
                for p in positions(s):
                    expect[p // 64] |= 1 << (p % 64)
        # signed-long wrap for bit 63
        expect = [w - (1 << 64) if w >= (1 << 63) else w for w in expect]
        assert bitmap == expect

        corpus = spark.createDataFrame(
            [(100, "alpha beta gamma"), (101, "zeta eta theta iota")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["n_hits"])
            for r in decontam.bloom_contamination(
                corpus, bench, k=k, m_bits=m_bits, n_hashes=n_hashes,
                hash_fn="md5",
            ).collect()
        }

        def py_hits(text):
            return sum(
                1
                for s in py_shingles(text)
                if all(expect[p // 64] & (1 << (p % 64)) or
                       (expect[p // 64] < 0 and p % 64 == 63)
                       for p in positions(s))
            )

        # cleaner python probe on unsigned view
        uns = [w & ((1 << 64) - 1) for w in expect]

        def py_hits2(text):
            return sum(
                1
                for s in py_shingles(text)
                if all((uns[p // 64] >> (p % 64)) & 1 for p in positions(s))
            )

        want = {
            (i, py_hits2(t))
            for i, t in [(100, "alpha beta gamma"), (101, "zeta eta theta iota")]
            if py_hits2(t) >= 1
        }
        assert got == want
        assert (100, 2) in got  # both shingles of doc 100 are in bench

    def test_prebuilt_bitmap_and_large_carrier(self, spark, docs):
        from datatest_spark.operators import decontam

        corpus, bench = self._split(docs)
        stolen = bench.limit(1).withColumn("doc_id", F.col("doc_id") + 500001)
        corpus = corpus.limit(200).unionByName(stolen)
        # 2^19 bits = 8192 words > BLOOM_LITERAL_MAX_WORDS: exercises the
        # one-row broadcast carrier; prebuilt bitmap skips the build
        bm = decontam.bloom_bitmap(bench, k=5, m_bits=1 << 19, n_hashes=3)
        flagged = decontam.bloom_contamination(
            corpus, None, k=5, m_bits=1 << 19, n_hashes=3, bitmap=bm
        )
        ids = {r["doc_id"] for r in flagged.collect()}
        assert any(i > 500000 for i in ids)

    def test_param_validation(self, spark, docs):
        from datatest_spark.operators import decontam

        with pytest.raises(ValueError, match="power of two"):
            decontam.bloom_contamination(docs, docs, m_bits=1000)
        with pytest.raises(ValueError, match="n_hashes"):
            decontam.bloom_contamination(docs, docs, n_hashes=0)
        with pytest.raises(ValueError, match="min_hits"):
            decontam.bloom_contamination(docs, docs, min_hits=0)
        with pytest.raises(ValueError, match="bitmap has"):
            decontam.bloom_contamination(
                docs, None, m_bits=1 << 10, bitmap=[0] * 3
            )


class TestWeightedSample:
    """weighted_sample: deterministic priority sampling — exact N per
    group, weight-monotone selection, pure function of (id, seed)."""

    @pytest.fixture(autouse=True)
    def _packing(self):
        global packing
        from datatest_spark.operators import packing

    def test_exact_n_and_deterministic(self, spark, docs):
        out = packing.weighted_sample(docs, 5, weight_col="n_chars")
        counts = {r["source"]: r["n"] for r in out.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert all(v == 5 for v in counts.values())
        again = {r["doc_id"] for r in packing.weighted_sample(
            docs, 5, weight_col="n_chars").collect()}
        assert again == {r["doc_id"] for r in out.collect()}

    def test_heavy_rows_dominate(self, spark):
        rows = [(i, "g", 1) for i in range(1000)]
        rows += [(10000 + i, "g", 10 ** 7) for i in range(10)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, w long"
        )
        picked = {r["doc_id"] for r in packing.weighted_sample(
            df, 10, weight_col="w").collect()}
        # max light priority = 1/u_min ~ 2^20; min heavy = 10^7 / 1 = 10^7
        assert picked == {10000 + i for i in range(10)}

    def test_nonpositive_and_null_weights_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, "g", None), (2, "g", 0), (3, "g", -5), (4, "g", 2)],
            "doc_id long, source string, w int",
        )
        picked = {r["doc_id"] for r in packing.weighted_sample(
            df, 4, weight_col="w").collect()}
        assert picked == {4}

    def test_seed_changes_draw_uniform_weights(self, spark, docs):
        one = packing.weighted_sample(
            docs, 10, weight_col="n_chars", seed=1)
        two = packing.weighted_sample(
            docs, 10, weight_col="n_chars", seed=2)
        a = {r["doc_id"] for r in one.collect()}
        b = {r["doc_id"] for r in two.collect()}
        assert a != b  # same weights, different u draws

    def test_md5_path_matches_python_mirror(self, spark):
        import hashlib

        rows = [(i, "g", 3 + (i % 5)) for i in range(50)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, w int"
        )
        got = {r["doc_id"] for r in packing.weighted_sample(
            df, 7, weight_col="w", hash_fn="md5", seed=3).collect()}

        def prio(i, w):
            h = int(hashlib.md5(("%d#3" % i).encode()).hexdigest()[:4], 16)
            return w / ((h + 1) / 65536.0)

        want = {
            i for i, _, w in sorted(
                rows, key=lambda r: (-prio(r[0], r[2]), r[0])
            )[:7]
        }
        assert got == want

    def test_dict_n_and_bad_hash_fn(self, spark, docs):
        out = packing.weighted_sample(
            docs, {"web": 3}, weight_col="n_chars")
        rows = out.groupBy("source").count().collect()
        assert {r["source"] for r in rows} <= {"web"}
        with pytest.raises(ValueError, match="hash_fn"):
            packing.weighted_sample(docs, 3, hash_fn="sha1")


class TestPiiScrub:
    def test_scrubs_and_counts(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, "mail me at bob@example.com or 555-867-5309 ok"),
                (2, "server 10.0.0.1 and 10.0.0.2"),
                (3, "clean text"),
                (4, None),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.pii_scrub(df).collect()}
        assert rows[1]["text"] == "mail me at <EMAIL> or <PHONE> ok"
        assert rows[1]["n_redactions"] == 2
        assert rows[2]["text"] == "server <IPV4> and <IPV4>"
        assert rows[2]["n_redactions"] == 2
        assert rows[3]["text"] == "clean text"
        assert rows[3]["n_redactions"] == 0
        assert rows[4]["text"] is None
        assert rows[4]["n_redactions"] == 0

    def test_counts_agree_with_pii_scan(self, spark, docs):
        from datatest_spark.operators import text as t

        seeded = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-867-5309"),
                ),
            ).otherwise(F.col("text")),
        )
        scan = t.pii_scan(seeded)
        scrub = t.pii_scrub(seeded)
        joined = scan.join(scrub.select("doc_id", "n_redactions"), "doc_id")
        bad = joined.filter(
            F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")
            != F.col("n_redactions")
        ).count()
        assert bad == 0

    def test_custom_replacement_and_validation(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "x@y.com here")], "doc_id long, text string"
        )
        out = t.pii_scrub(
            df, replacements={"email": "[redacted]"}
        ).collect()[0]
        assert out["text"] == "[redacted] here"
        with pytest.raises(ValueError, match="patterns"):
            t.pii_scrub(df, patterns={})


class TestEpochShuffleAndLengthBuckets:
    @pytest.fixture(autouse=True)
    def _pk(self):
        global packing
        from datatest_spark.operators import packing

    def test_epoch_shuffle_total_order_deterministic(self, spark, docs):
        one = packing.epoch_shuffle(docs, epoch=1, num_shards=8)
        rows = one.select("doc_id", "shard", "pos").collect()
        again = packing.epoch_shuffle(docs, epoch=1, num_shards=8)
        assert sorted(map(tuple, rows)) == sorted(
            map(tuple, again.select("doc_id", "shard", "pos").collect())
        )
        # every doc appears exactly once; pos is 1..n within each shard
        assert len(rows) == docs.count()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1))

    def test_epoch_changes_order(self, spark, docs):
        e0 = packing.epoch_shuffle(docs, epoch=0, num_shards=4)
        e1 = packing.epoch_shuffle(docs, epoch=1, num_shards=4)
        a = [(r["shard"], r["pos"]) for r in
             e0.orderBy("doc_id").collect()]
        b = [(r["shard"], r["pos"]) for r in
             e1.orderBy("doc_id").collect()]
        assert a != b

    def test_length_buckets_assignment(self, spark):
        rows = [(i, 10 + i) for i in range(100)]  # lengths 10..109
        df = spark.createDataFrame(rows, "doc_id long, n_tok int")
        out = packing.length_bucket_batches(
            df, batch_size=8, bucket_edges=(32, 64, 128)
        ).collect()
        assert len(out) == 100
        for r in out:
            L = r["length"]
            want = 0 if L <= 32 else 1 if L <= 64 else 2 if L <= 128 else 3
            assert r["bucket"] == want
            assert 1 <= r["batch_pos"] <= 8
        # batches are contiguous 0..k per bucket and full except the last
        from collections import Counter

        per = Counter((r["bucket"], r["batch_id"]) for r in out)
        for b in {r["bucket"] for r in out}:
            ids = sorted(k[1] for k in per if k[0] == b)
            assert ids == list(range(len(ids)))
            sizes = [per[(b, i)] for i in ids]
            assert all(s == 8 for s in sizes[:-1]) and 1 <= sizes[-1] <= 8

    def test_batching_cuts_padding_vs_random(self, spark):
        import random

        rng = random.Random(7)
        rows = [(i, rng.choice([16, 480, 2000])) for i in range(3000)]
        df = spark.createDataFrame(rows, "doc_id long, n_tok int")
        bucketed = packing.length_bucket_batches(df, batch_size=32)
        eff = packing.padding_efficiency(bucketed).collect()
        total_pad = sum(r["padded_tokens"] for r in eff)
        total_kept = sum(r["kept_tokens"] for r in eff)
        # random batching pads ~everything to 2000: > 50% waste.
        # bucketed batching on 3 spiky lengths pads almost nothing.
        assert total_pad / (total_pad + total_kept) < 0.05

    def test_invalid_lengths_excluded_and_validation(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, 0), (3, -4), (4, 17)],
            "doc_id long, n_tok int",
        )
        out = packing.length_bucket_batches(df, batch_size=4).collect()
        assert {r["doc_id"] for r in out} == {4}
        with pytest.raises(ValueError, match="batch_size"):
            packing.length_bucket_batches(df, batch_size=0)
        with pytest.raises(ValueError, match="bucket_edges"):
            packing.length_bucket_batches(df, batch_size=4,
                                          bucket_edges=(64, 64))
        with pytest.raises(ValueError, match="num_shards"):
            packing.epoch_shuffle(df, num_shards=0)

    def test_sharded_buckets_stay_deterministic(self, spark, docs):
        one = packing.length_bucket_batches(
            docs, batch_size=16, length_col="n_chars", num_shards=4
        )
        two = packing.length_bucket_batches(
            docs, batch_size=16, length_col="n_chars", num_shards=4
        )
        assert sorted(map(tuple, one.collect())) == sorted(
            map(tuple, two.collect())
        )


class TestVocabOverlap:
    def test_hand_example_with_zero_overlap_pair(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [("a", ["x", "y", "x"]), ("a", ["z"]),   # vocab a = {x,y,z}
             ("b", ["y", "z", "w"]),                  # vocab b = {y,z,w}
             ("c", ["qq"])],                          # disjoint
            "source string, tokens array<string>",
        )
        rows = {(r["g1"], r["g2"]): r for r in t.vocab_overlap(df).collect()}
        ab = rows[("a", "b")]
        assert (ab["n1"], ab["n2"], ab["n_common"]) == (3, 3, 2)
        assert ab["jaccard"] == 0.5  # 2 / (3+3-2)
        assert ab["containment_1"] == round(2 / 3, 6)
        # zero-overlap pairs MUST appear (absence would read as no data)
        ac = rows[("a", "c")]
        assert ac["n_common"] == 0 and ac["jaccard"] == 0.0
        assert len(rows) == 3

    def test_duplicate_tokens_and_nulls_collapse(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [("a", ["x", "x", None]), ("b", ["x"]), (None, ["x"])],
            "source string, tokens array<string>",
        )
        rows = {(r["g1"], r["g2"]): r for r in t.vocab_overlap(df).collect()}
        # null token dropped; null group becomes '__null__'
        assert rows[("a", "b")]["jaccard"] == 1.0
        assert ("__null__", "a") in rows


class TestShardManifest:
    def _docs(self, spark):
        rows = [(i, "doc %d body" % i, 10 + i) for i in range(200)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, n_chars int"
        )

    def test_checksum_is_order_and_partitioning_invariant(self, spark):
        from datatest_spark.operators import packing

        df = self._docs(spark)
        a = sorted(map(tuple, packing.shard_manifest(
            df.coalesce(1), 4, length_col="n_chars").collect()))
        b = sorted(map(tuple, packing.shard_manifest(
            df.repartition(16).orderBy(F.desc("doc_id")), 4,
            length_col="n_chars").collect()))
        assert a == b
        assert sum(r[1] for r in a) == 200  # n_rows totals

    def test_checksum_detects_loss_and_mutation(self, spark):
        from datatest_spark.operators import packing

        df = self._docs(spark)
        base = {r["shard"]: r["checksum"]
                for r in packing.shard_manifest(df, 1).collect()}
        dropped = {r["shard"]: r["checksum"]
                   for r in packing.shard_manifest(
                       df.where(F.col("doc_id") != 7), 1).collect()}
        mutated = {r["shard"]: r["checksum"]
                   for r in packing.shard_manifest(
                       df.withColumn("text", F.when(
                           F.col("doc_id") == 7, F.lit("tampered")
                       ).otherwise(F.col("text"))), 1).collect()}
        assert base[0] != dropped[0] and base[0] != mutated[0]

    def test_assignment_stable_under_append(self, spark):
        from datatest_spark.operators import packing

        df = self._docs(spark)
        small = packing.assign_shards(df.where(F.col("doc_id") < 50), 8)
        big = packing.assign_shards(df, 8)
        a = {r["doc_id"]: r["shard"] for r in small.collect()}
        b = {r["doc_id"]: r["shard"] for r in big.collect()}
        assert all(b[k] == v for k, v in a.items())

    def test_write_roundtrip_matches_manifest(self, spark, tmp_path):
        from datatest_spark.operators import packing

        df = self._docs(spark)
        path = str(tmp_path / "shards")
        manifest = packing.write_training_shards(
            df, path, num_shards=4, length_col="n_chars"
        )
        back = spark.read.parquet(path)
        assert back.count() == 200
        # recompute per-shard counts from the written shard column
        got = {r["shard"]: r["n"] for r in
               back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
        want = {r["shard"]: r["n_rows"] for r in manifest.collect()}
        assert got == want


class TestReadability:
    def test_hand_example(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "The cat sat. The dog ran!"),  # 6 words, 2 sentences
             (2, ""), (3, None),
             (4, "no terminal punctuation here")],  # sentences floor 1
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.readability_profile(df).collect()}
        r1 = rows[1]
        # vowel groups: The(1) cat(1) sat.(1) The(1) dog(1) ran!(1) = 6
        assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 6)
        assert r1["words_per_sentence"] == 3.0
        assert r1["syllables_per_word"] == 1.0
        assert r1["flesch"] == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
        assert r1["fk_grade"] == round(0.39 * 3.0 + 11.8 * 1.0 - 15.59, 4)
        for d in (2, 3):
            assert rows[d]["n_words"] == 0 and rows[d]["flesch"] is None
        r4 = rows[4]
        assert r4["n_sentences"] == 0
        # formula floors sentences at 1: wps = 4 words / 1
        assert r4["words_per_sentence"] == 4.0


class TestFertility:
    def test_ratio_of_sums_not_mean_of_ratios(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            # doc1: 2 words, 2 alnum tokens; doc2: 1 word split into
            # 3 alnum runs by punctuation ("a-b-c" -> a, b, c)
            [(1, "en", "web", "hi there"), (2, "en", "web", "a-b-c"),
             (3, "de", "web", None), (4, "de", "web", "")],
            "doc_id long, lang string, source string, text string",
        )
        rows = {(r["source"], r["lang"]): r
                for r in t.fertility_profile(df).collect()}
        en = rows[("web", "en")]
        assert en["sum_words"] == 3 and en["sum_tokens"] == 5
        # corpus-level fertility 5/3, not mean(2/2, 3/1) = 2
        assert en["fertility"] == round(5.0 / 3.0, 6)
        de = rows[("web", "de")]
        assert de["n_docs"] == 2 and de["sum_tokens"] == 0
        assert de["fertility"] is None and de["chars_per_token"] is None

    def test_real_token_array_column(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "en", "s", "two words", [7, 8, 9]), (2, "en", "s", "x", None)],
            "doc_id long, lang string, source string, text string,"
            " tokens array<int>",
        )
        r = t.fertility_profile(df, tokens_col="tokens").collect()[0]
        # null array counts 0 tokens; 3 tokens over 3 words
        assert r["sum_tokens"] == 3 and r["sum_words"] == 3
        assert r["fertility"] == 1.0


class TestC4LineFilterAndMojibake:
    def test_line_filter_rules(self, spark):
        from datatest_spark.operators import text as t

        doc = "\n".join([
            "This is a good line.",          # kept
            "Too short.",                     # < 3 words
            "No terminal punctuation here",   # no punct
            'He said "stop".',                # kept (quote-final ok: .)
            "function() { return 1; }",       # brace
            "Lorem Ipsum dolor sit amet.",    # lorem
            "Is this kept too?",              # kept
        ])
        df = spark.createDataFrame([(1, doc), (2, None)],
                                   "doc_id long, text string")
        rows = {r["doc_id"]: r for r in t.c4_line_filter(df).collect()}
        kept = rows[1]["text"].split("\n")
        assert kept == [
            "This is a good line.",
            'He said "stop".',
            "Is this kept too?",
        ]
        assert rows[1]["n_lines"] == 7 and rows[1]["n_kept"] == 3
        assert rows[2]["text"] is None
        assert rows[2]["n_lines"] == 0 and rows[2]["n_kept"] == 0

    def test_line_filter_flags_off(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "code { x }\nshort\nplain line without punct")],
            "doc_id long, text string",
        )
        out = t.c4_line_filter(
            df, min_words=1, require_terminal_punct=False,
            drop_brace_lines=False, drop_lorem=False,
        ).collect()[0]
        assert out["n_kept"] == 3

    def test_mojibake_scan(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, "clean text with tabs\tand\nnewlines"),
                (2, "damag��d text"),
                (3, "ctrl\x01char"),
                (4, ""),
                (5, None),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.mojibake_scan(df).collect()}
        assert rows[1]["n_replacement"] == 0 and rows[1]["n_control"] == 0
        assert rows[1]["bad_encoding"] is False
        assert rows[2]["n_replacement"] == 2
        assert rows[2]["bad_encoding"] is True
        assert rows[3]["n_control"] == 1
        assert rows[4]["bad_frac"] == 0.0 and rows[4]["bad_encoding"] is False
        assert rows[5]["bad_frac"] == 0.0 and rows[5]["n_chars_scanned"] == 0


class TestBloomDecontaminateAndSignatures:
    def test_bloom_survivors_complement_flagged(self, spark, docs):
        from datatest_spark.operators import decontam

        bench = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        stolen = bench.limit(2).withColumn("doc_id", F.col("doc_id") + 500001)
        corpus = corpus.unionByName(stolen)
        kw = dict(k=5, m_bits=1 << 18, n_hashes=4)
        flagged = {
            r["doc_id"]
            for r in decontam.bloom_contamination(
                corpus, bench, **kw
            ).collect()
        }
        kept = {
            r["doc_id"]
            for r in decontam.bloom_decontaminate(
                corpus, bench, **kw
            ).collect()
        }
        allids = {r["doc_id"] for r in corpus.collect()}
        assert kept == allids - flagged
        assert not any(i > 500000 for i in kept)

    def test_bloom_survivors_keep_all_columns(self, spark, docs):
        from datatest_spark.operators import decontam

        bench = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        out = decontam.bloom_decontaminate(
            corpus, bench, k=5, m_bits=1 << 19, n_hashes=3
        )
        assert out.columns == corpus.columns  # large carrier col dropped

    def test_signature_terms_basic(self, spark):
        from datatest_spark.operators import text as t

        rows = []
        for i in range(20):
            rows.append((i, "a", ["common", "alpha", "alpha"]))
            rows.append((100 + i, "b", ["common", "beta"]))
        df = spark.createDataFrame(
            rows, "doc_id long, source string, tokens array<string>"
        )
        out = t.source_signature_terms(df, k=2)
        rows = {(r["source"], r["rank"]): r for r in out.collect()}
        # the ubiquitous token scores exactly 0 (idf = floor(log2(1)*B))
        assert rows[("a", 1)]["token"] == "alpha"
        assert rows[("b", 1)]["token"] == "beta"
        common = [r for r in rows.values() if r["token"] == "common"]
        assert all(r["score"] == 0 for r in common)
        # alpha appears 40x in source a, gdf 1, G=2: idf=floor(log2(3/2)*B)
        import math

        idf = math.floor(math.log2(3 / 2) * (1 << 20))
        assert rows[("a", 1)]["score"] == 40 * idf

    def test_signature_k_validated(self, spark, docs):
        from datatest_spark.operators import text as t

        with pytest.raises(ValueError, match="k must"):
            t.source_signature_terms(docs, k=0)


class TestScrubTokenSpans:
    def test_cuts_flagged_spans_only(self, spark):
        from datatest_spark.operators.dedup import scrub_token_spans

        df = spark.createDataFrame(
            [
                (1, [10, 11, 12, 13, 14, 15]),
                (2, [20, 21, 22]),
                (3, [30]),
            ],
            "doc_id long, tokens array<int>",
        )
        spans = spark.createDataFrame(
            [(1, 1, 3), (1, 5, 6)],  # cut positions 1,2 and 5
            "doc_id long, span_start int, span_end int",
        )
        rows = {r["doc_id"]: r for r in
                scrub_token_spans(df, spans).collect()}
        assert rows[1]["tokens"] == [10, 13, 14]
        assert rows[1]["n_removed"] == 3
        assert rows[2]["tokens"] == [20, 21, 22]
        assert rows[2]["n_removed"] == 0
        assert rows[3]["tokens"] == [30] and rows[3]["n_removed"] == 0

    def test_composes_with_duplicate_spans(self, spark):
        from datatest_spark.operators.dedup import (
            duplicate_spans, scrub_token_spans,
        )

        # two docs share an 8-token run; a third is clean
        shared = list(range(100, 108))
        df = spark.createDataFrame(
            [
                (1, [1, 2] + shared + [3]),
                (2, [4] + shared + [5, 6]),
                (3, list(range(50, 60))),
            ],
            "doc_id long, tokens array<int>",
        )
        spans = duplicate_spans(df, k=8, min_docs=2, hashed=False)
        out = {r["doc_id"]: r for r in
               scrub_token_spans(df, spans).collect()}
        assert out[1]["tokens"] == [1, 2, 3]
        assert out[2]["tokens"] == [4, 5, 6]
        assert out[3]["tokens"] == list(range(50, 60))
        # on THIS fixture the remainders are unique, so one pass
        # converges (not true in general: cut junctions can splice new
        # duplicated k-grams — see the property test)
        again = duplicate_spans(
            spark.createDataFrame(
                [(i, out[i]["tokens"]) for i in (1, 2, 3)],
                "doc_id long, tokens array<int>",
            ),
            k=8, min_docs=2, hashed=False,
        )
        assert again.count() == 0


class TestPackingColumnClashGuards:
    def test_epoch_shuffle_and_buckets_reject_clashes(self, spark):
        from datatest_spark.operators import packing

        df = spark.createDataFrame(
            [(1, 5, 0)], "doc_id long, n_tok int, shard int"
        )
        with pytest.raises(ValueError, match="epoch_shuffle writes"):
            packing.epoch_shuffle(df)
        with pytest.raises(ValueError, match="length_bucket_batches"):
            packing.length_bucket_batches(df, batch_size=4)


class TestLangMixProfile:
    def test_mixed_doc_detected(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                (1, "the cat and the dog of a to\nel la de que y el la"),
                (2, "the cat and the dog"),
                (3, None),
                (4, "   \n  "),
                (5, "el la de que y\nel la de que y\nthe cat and a dog"),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in t.lang_mix_profile(df).collect()}
        assert rows[1]["mixed"] is True and rows[1]["n_langs"] == 2
        # tie at 1-1 resolves to the lexicographically smallest lang
        assert rows[1]["majority_lang"] == "en"
        assert rows[1]["majority_frac"] == 0.5
        assert rows[2] == (2, 1, "en", 1.0, 1, False)
        assert rows[3]["n_paragraphs"] == 0
        assert rows[3]["majority_lang"] is None and rows[3]["mixed"] is False
        assert rows[4]["n_paragraphs"] == 0
        assert rows[5]["majority_lang"] == "es"
        assert rows[5]["majority_frac"] == round(2 / 3, 6)

    def test_agrees_with_doc_level_langid_on_single_paragraph(
        self, spark, docs
    ):
        from datatest_spark.operators import text as t

        single = docs.filter(~F.col("text").contains("\n")).limit(50)
        mix = t.lang_mix_profile(single).select("doc_id", "majority_lang")
        whole = single.select(
            "doc_id", t.lang_id().alias("lang")
        )
        bad = mix.join(whole, "doc_id").filter(
            F.col("majority_lang") != F.col("lang")
        ).count()
        assert bad == 0


class TestRetentionCohorts:
    """Pin for the q:retention_cohorts entry query (overflow allowlist:
    value-oracled by tools/check_oracles.py + this dedicated pin)."""

    def _run(self, spark, sf_dir):
        import importlib.util
        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "entry", os.path.join(repo, "__spark_entry__.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.q_retention_cohorts(spark, sf_dir)

    def test_cohort_triangle_invariants(self, spark, sf_dir):
        out = self._run(spark, sf_dir)
        rows = out.collect()
        assert rows, "empty retention triangle"
        # offsets are non-negative by construction (day >= min(day))
        assert all(r["day_offset"] >= 0 for r in rows)
        # every cohort has an offset-0 row and no offset exceeds the
        # cohort's own size
        by_cohort = {}
        for r in rows:
            by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = r[
                "n_users"
            ]
        for cohort, offs in by_cohort.items():
            assert 0 in offs, "cohort %r missing its day-0 row" % cohort
            assert all(n <= offs[0] for n in offs.values())
        # day-0 counts partition the user population: every user appears
        # in exactly one cohort
        e = spark.read.parquet(sf_dir + "/events.parquet")
        total_users = e.select("user_id").distinct().count()
        assert sum(offs[0] for offs in by_cohort.values()) == total_users


class TestFdAudit:
    def test_clean_fd_has_zero_violations(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
        )
        rows = {r["k"]: r for r in stats.fd_audit(df, "k", "v").collect()}
        assert rows[1] == (1, 2, 1, "a", 0)
        assert rows[2] == (2, 1, 1, "b", 0)

    def test_g3_counts_rows_off_the_majority(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1, "a")] * 3 + [(1, "b")] * 2 + [(1, "c")],
            "k int, v string",
        )
        (r,) = stats.fd_audit(df, "k", "v").collect()
        assert r == (1, 6, 3, "a", 3)

    def test_majority_tie_breaks_to_smallest_with_null_last(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1, "b"), (1, "a"), (1, None), (1, None)], "k int, v string"
        )
        (r,) = stats.fd_audit(df, "k", "v").collect()
        # null count 2 wins outright; tie case next
        assert r["majority_dep"] is None and r["n_violations"] == 2
        df2 = spark.createDataFrame(
            [(1, "b"), (1, "a"), (1, None)], "k int, v string"
        )
        (r2,) = stats.fd_audit(df2, "k", "v").collect()
        # 1-1-1 tie: smallest non-null value wins, NULL sorts last
        assert r2["majority_dep"] == "a" and r2["n_violations"] == 2

    def test_null_determinant_is_its_own_group(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(None, "a"), (None, "b"), (2, "c")], "k int, v string"
        )
        rows = {r["k"]: r for r in stats.fd_audit(df, "k", "v").collect()}
        assert rows[None]["n_distinct_dep"] == 2
        assert rows[None]["n_violations"] == 1


class TestBenfordProfile:
    def test_digits_and_fractions(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1.0,), (19.99,), (2.5,), (0.0,), (-3.0,), (None,), (0.001,)],
            "v double",
        )
        rows = {r["digit"]: r for r in stats.benford_profile(df, "v").collect()}
        # 0.001 fixed-points to 0 cents -> excluded with 0/-3/None
        assert set(rows) == {1, 2}
        assert rows[1]["n"] == 2 and rows[2]["n"] == 1
        assert rows[1]["obs_frac"] == round(2 / 3, 6)
        assert rows[1]["exp_frac"] == round(__import__("math").log10(2), 6)

    def test_power_of_ten_boundary_stays_single_digit(self, spark):
        """The float-log10 trap: exactly 1000.00 must yield digit 1,
        never 10 — the string-of-integer path is immune by design."""
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1000.0,), (10.0,), (0.01,), (999999.99,)], "v double"
        )
        rows = stats.benford_profile(df, "v").collect()
        assert {r["digit"] for r in rows} == {1, 9}
        assert all(1 <= r["digit"] <= 9 for r in rows)

    def test_decimals_parameter_controls_the_fixed_point(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame([(0.001,), (0.05,)], "v double")
        rows = {r["digit"]: r["n"]
                for r in stats.benford_profile(df, "v", decimals=3).collect()}
        assert rows == {1: 1, 5: 1}


class TestNullPatternProfile:
    def test_joint_patterns_counted(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [
                ("g", "t", "en"),
                ("g", None, None),
                ("g", None, None),
                ("g", "t", None),
                ("h", "t", "en"),
            ],
            "src string, text string, lang string",
        )
        out = stats.null_pattern_profile(df, ["text", "lang"], "src")
        rows = {(r["group"], r["pattern"]): r for r in out.collect()}
        assert rows[("g", "00")]["n"] == 1
        assert rows[("g", "11")]["n"] == 2
        assert rows[("g", "11")]["n_nulls"] == 2
        assert rows[("g", "01")]["n"] == 1
        assert rows[("h", "00")]["n"] == 1

    def test_pattern_order_follows_caller_columns(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame([("t", None)], "a string, b string")
        (r,) = stats.null_pattern_profile(df, ["b", "a"]).collect()
        assert r["pattern"] == "10" and r["group"] == "all"

    def test_single_column_and_empty_list(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame([("t",), (None,)], "a string")
        out = {r["pattern"]: r["n"]
               for r in stats.null_pattern_profile(df, ["a"]).collect()}
        assert out == {"0": 1, "1": 1}
        import pytest as _pytest

        with _pytest.raises(ValueError):
            stats.null_pattern_profile(df, [])


class TestHeavyHitters:
    def test_prefilter_equals_direct_even_with_collisions(self, spark):
        """n_buckets=2 forces every value into one of two buckets, so
        the prefilter admits many false candidates — the exact phase
        must discard them and match the direct path exactly."""
        from datatest_spark.operators import stats

        rows = [("g", "hot")] * 50 + [("g", "w%d" % i) for i in range(50)]
        rows += [("h", "x")] * 8 + [("h", "y")]
        df = spark.createDataFrame(rows, "src string, v string")
        fast = sorted(map(tuple, stats.heavy_hitters(
            df, "v", "src", phi=0.2, prefilter=True, n_buckets=2
        ).collect()))
        direct = sorted(map(tuple, stats.heavy_hitters(
            df, "v", "src", phi=0.2, prefilter=False
        ).collect()))
        assert fast == direct
        assert ("g", "hot", 50, 100, 0.5) in fast
        assert ("h", "x", 8, 9, round(8 / 9, 6)) in fast
        # y is 1/9 ~ 0.111, below phi -> excluded
        assert all(t[1] != "y" for t in fast)

    def test_threshold_boundary_is_inclusive(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [("a",)] * 25 + [("b",)] * 75, "v string"
        )
        out = {r["value"]: r for r in stats.heavy_hitters(
            df, "v", phi=0.25).collect()}
        assert set(out) == {"a", "b"}
        assert out["a"]["frac"] == 0.25

    def test_null_flood_is_reported(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(None,)] * 9 + [("x",)], "v string"
        )
        out = stats.heavy_hitters(df, "v", phi=0.5).collect()
        assert len(out) == 1 and out[0]["value"] is None
        assert out[0]["n"] == 9

    def test_phi_validation(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import stats

        df = spark.createDataFrame([("x",)], "v string")
        for bad in (0.0, -0.1, 1.5):
            with _pytest.raises(ValueError):
                stats.heavy_hitters(df, "v", phi=bad)


class TestPmiCollocations:
    def test_glued_pair_scores_highest(self, spark):
        """'new york' always adjacent; 'the'+anything is diffuse —
        PMI must rank the glued pair first."""
        import math

        from datatest_spark.operators import text as t

        docs = (
            ["new york"] * 10
            + ["the cat", "the dog", "the fish", "the cow"] * 5
        )
        df = spark.createDataFrame(
            [(d.split(" "),) for d in docs], "tokens array<string>"
        )
        out = t.pmi_collocations(df, top_k=5, min_count=2).collect()
        assert out[0]["t1"] == "new" and out[0]["t2"] == "york"
        assert out[0]["rk"] == 1 and out[0]["c12"] == 10
        # exact fixed-point value: c12=10, N=30, c1=c2=10
        exp = math.floor(math.log2((10.0 * 30.0) / (10.0 * 10.0)) * (1 << 20))
        assert out[0]["pmi_fixed"] == exp

    def test_min_count_floors_hapax_pairs(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(["rare", "pair"],), (["a", "b"],), (["a", "b"],)],
            "tokens array<string>",
        )
        out = t.pmi_collocations(df, top_k=10, min_count=2).collect()
        assert [(r["t1"], r["t2"]) for r in out] == [("a", "b")]

    def test_rank_is_deterministic_on_ties(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(["b", "y"],), (["a", "x"],)] * 3, "tokens array<string>"
        )
        out = t.pmi_collocations(df, top_k=2, min_count=1).collect()
        # identical pmi; (a,x) < (b,y) lexicographically
        assert (out[0]["t1"], out[0]["rk"]) == ("a", 1)
        assert (out[1]["t1"], out[1]["rk"]) == ("b", 2)

    def test_param_validation(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import text as t

        df = spark.createDataFrame([(["a", "b"],)], "tokens array<string>")
        with _pytest.raises(ValueError):
            t.pmi_collocations(df, top_k=0)
        with _pytest.raises(ValueError):
            t.pmi_collocations(df, min_count=0)


class TestBootstrapCI:
    def test_weights_match_python_md5_mirror(self, spark):
        """The Poisson weight for (id, b) must equal the hashlib mirror
        of the same md5 -> u -> inverse-CDF pipeline."""
        import hashlib

        from datatest_spark.operators import stats

        def py_w(doc_id, b, seed=0):
            h = hashlib.md5(
                ("%s#%d#%d" % (doc_id, b, seed)).encode()
            ).hexdigest()
            u = (int(h[:4], 16) + 1.0) / 65536.0
            for k, c in enumerate(stats.POISSON1_CDF):
                if u <= c:
                    return k
            return 8

        # single row, single resample -> the resample mean equals the
        # value whenever w > 0 and the resample is dropped when w == 0;
        # scan b until both cases are exercised
        df = spark.createDataFrame([("d0", 7.0)], "doc_id string, v double")
        out = stats.bootstrap_ci(df, "v", id_col="doc_id", n_boot=16)
        (r,) = out.collect()
        expected_used = sum(1 for b in range(1, 17) if py_w("d0", b) > 0)
        assert r["n_boot_used"] == expected_used
        assert r["mean"] == 7.0
        if expected_used:
            assert r["ci_lo"] == 7.0 and r["ci_hi"] == 7.0

    def test_deterministic_and_ci_brackets_mean(self, spark, docs):
        from datatest_spark.operators import stats

        a = sorted(map(tuple, stats.bootstrap_ci(
            docs, "n_chars", "source", n_boot=32
        ).collect()))
        b = sorted(map(tuple, stats.bootstrap_ci(
            docs, "n_chars", "source", n_boot=32
        ).collect()))
        assert a == b
        for row in a:
            _, n_rows, mean, lo, hi, used = row
            assert used == 32
            assert lo <= hi
            # percentile bootstrap brackets the sample mean on any
            # non-degenerate group of this size
            assert lo <= mean <= hi

    def test_interval_narrows_with_more_data(self, spark):
        from datatest_spark.operators import stats

        rows = [("big", "b%d" % i, float(i % 100)) for i in range(2000)]
        rows += [("small", "s%d" % i, float(i % 100)) for i in range(20)]
        df = spark.createDataFrame(rows, "g string, doc_id string, v double")
        out = {r["group"]: r for r in stats.bootstrap_ci(
            df, "v", "g", n_boot=64
        ).collect()}
        big_w = out["big"]["ci_hi"] - out["big"]["ci_lo"]
        small_w = out["small"]["ci_hi"] - out["small"]["ci_lo"]
        assert big_w < small_w

    def test_seed_changes_resamples_not_mean(self, spark, docs):
        from datatest_spark.operators import stats

        a = {r["group"]: r for r in stats.bootstrap_ci(
            docs, "n_chars", "source", n_boot=32, seed=0
        ).collect()}
        b = {r["group"]: r for r in stats.bootstrap_ci(
            docs, "n_chars", "source", n_boot=32, seed=1
        ).collect()}
        assert set(a) == set(b)
        assert all(a[g]["mean"] == b[g]["mean"] for g in a)
        assert any(
            (a[g]["ci_lo"], a[g]["ci_hi"]) != (b[g]["ci_lo"], b[g]["ci_hi"])
            for g in a
        )

    def test_param_validation_and_null_exclusion(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [("a", 1.0), ("b", None)], "doc_id string, v double"
        )
        (r,) = stats.bootstrap_ci(df, "v", id_col="doc_id").collect()
        assert r["n_rows"] == 1
        with _pytest.raises(ValueError):
            stats.bootstrap_ci(df, "v", n_boot=1)
        with _pytest.raises(ValueError):
            stats.bootstrap_ci(df, "v", alpha=0.0)


class TestAssociationAudit:
    def test_perfect_dependence_gives_v_one(self, spark):
        from datatest_spark.operators import stats

        # b is a function of a, balanced 2x2 -> chi2 = n, V = 1, MI = 1 bit
        rows = [("x", "p")] * 10 + [("y", "q")] * 10
        df = spark.createDataFrame(rows, "a string, b string")
        (r,) = stats.association_audit(df, "a", "b").collect()
        assert r["n"] == 20 and r["dof"] == 1
        assert abs(r["chi2"] - 20.0) < 0.01
        assert abs(r["cramers_v"] - 1.0) < 0.001
        assert abs(r["mi_bits"] - 1.0) < 0.001

    def test_independence_gives_zero(self, spark):
        from datatest_spark.operators import stats

        # exactly proportional cells: o = ra*cb/n for every cell
        rows = (
            [("x", "p")] * 6 + [("x", "q")] * 2
            + [("y", "p")] * 3 + [("y", "q")] * 1
        )
        df = spark.createDataFrame(rows, "a string, b string")
        (r,) = stats.association_audit(df, "a", "b").collect()
        assert r["chi2"] == 0.0 and r["mi_bits"] == 0.0
        assert r["cramers_v"] == 0.0

    def test_null_category_participates(self, spark):
        from datatest_spark.operators import stats

        rows = [("x", None)] * 5 + [("y", "q")] * 5
        df = spark.createDataFrame(rows, "a string, b string")
        (r,) = stats.association_audit(df, "a", "b").collect()
        # null is its own category -> perfect dependence again
        assert r["n_b"] == 2 and abs(r["cramers_v"] - 1.0) < 0.001

    def test_single_category_column_yields_null_v(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [("x", "p"), ("x", "q")], "a string, b string"
        )
        (r,) = stats.association_audit(df, "a", "b").collect()
        assert r["dof"] == 0 and r["cramers_v"] is None

    def test_zero_cells_contribute_expected_mass(self, spark):
        import math

        from datatest_spark.operators import stats

        # 2x2 with one empty cell: chi2 must include the (0-e)^2/e term
        rows = [("x", "p")] * 4 + [("y", "p")] * 2 + [("y", "q")] * 2
        df = spark.createDataFrame(rows, "a string, b string")
        (r,) = stats.association_audit(df, "a", "b").collect()
        # exact chi2 by hand: n=8, ra(x)=4, ra(y)=4, cb(p)=6, cb(q)=2
        exp = {("x", "p"): 3.0, ("x", "q"): 1.0,
               ("y", "p"): 3.0, ("y", "q"): 1.0}
        obs = {("x", "p"): 4, ("x", "q"): 0, ("y", "p"): 2, ("y", "q"): 2}
        want = sum((obs[k] - e) ** 2 / e for k, e in exp.items())
        assert abs(r["chi2"] - want) < 0.01


class TestPositionEntropy:
    def test_templated_prefix_craters_early_positions(self, spark):
        import math

        from datatest_spark.operators import text as t

        rows = [
            (["chapter", "one", "w%d" % i, "w%d" % (i * 7 % 13)],)
            for i in range(16)
        ]
        df = spark.createDataFrame(rows, "tokens array<string>")
        out = {r["pos"]: r for r in t.position_entropy(df, max_pos=4).collect()}
        assert out[1]["entropy_bits"] == 0.0
        assert out[1]["top_token"] == "chapter" and out[1]["top_frac"] == 1.0
        assert out[2]["entropy_bits"] == 0.0
        assert out[3]["entropy_bits"] == round(math.log2(16), 6)
        assert out[3]["n_distinct"] == 16

    def test_slice_bounds_positions_and_nulls_skipped(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(["a", None, "b", "c"],), (None,), (["a"],)],
            "tokens array<string>",
        )
        out = {r["pos"]: r for r in t.position_entropy(df, max_pos=2).collect()}
        # null token filtered BEFORE positions: doc1 = [a, b, ...]
        assert set(out) == {1, 2}
        assert out[1]["n_seqs"] == 2 and out[1]["top_token"] == "a"
        assert out[2]["n_seqs"] == 1 and out[2]["top_token"] == "b"
        import pytest as _pytest

        with _pytest.raises(ValueError):
            t.position_entropy(df, max_pos=0)

    def test_top_token_tie_breaks_to_smallest(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(["z"],), (["a"],)], "tokens array<string>"
        )
        (r,) = t.position_entropy(df, max_pos=1).collect()
        assert r["top_token"] == "a" and r["entropy_bits"] == 1.0


class TestOovProfile:
    def test_rates_against_hand_count(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [
                ("g", ["a", "a", "b", "x"]),
                ("g", ["a", "y", None]),
                ("h", ["a"]),
            ],
            "source string, tokens array<string>",
        )
        vocab = spark.createDataFrame([("a",), ("b",)], "token string")
        out = {r["group"]: r for r in t.oov_profile(df, vocab).collect()}
        g = out["g"]
        # g tokens: a,a,b,x,a,y -> 6 occurrences, oov x,y -> 2
        assert (g["n_tokens"], g["n_oov"]) == (6, 2)
        assert g["oov_rate"] == round(2 / 6, 6)
        # types: a,b,x,y -> 4, oov types x,y -> 2
        assert (g["n_types"], g["n_oov_types"]) == (4, 2)
        assert g["type_oov_rate"] == 0.5
        assert out["h"]["n_oov"] == 0 and out["h"]["type_oov_rate"] == 0.0

    def test_duplicate_vocab_rows_do_not_double_count(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [("g", ["a", "a"])], "source string, tokens array<string>"
        )
        vocab = spark.createDataFrame(
            [("a",), ("a",)], "token string"
        )  # dup vocab row: the join must stay 1:1
        (r,) = t.oov_profile(df, vocab).collect()
        assert r["n_tokens"] == 2 and r["n_oov"] == 0

    def test_null_group_is_its_own_row(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(None, ["z"])], "source string, tokens array<string>"
        )
        vocab = spark.createDataFrame([("a",)], "token string")
        (r,) = t.oov_profile(df, vocab).collect()
        assert r["group"] == "__null__" and r["n_oov_types"] == 1


class TestMwuDrift:
    def test_upward_shift_positive_z_and_max_u(self, spark):
        from datatest_spark.operators import drift

        rows = [("base", float(v)) for v in (10, 20, 30, 40, 50)] * 4
        rows += [("up", float(v)) for v in (60, 70, 80, 90)] * 5
        rows += [("down", 5.0)] * 10
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["group"]: r for r in drift.mwu_from_histogram(
            df, "v", "g", "base", 0.0, 100.0, 10
        ).collect()}
        # 'up' entirely above baseline: U = n*m (maximum), z > 0
        assert out["up"]["u"] == 20.0 * 20.0
        assert out["up"]["z"] > 3
        # 'down' entirely below: U = 0, z < 0
        assert out["down"]["u"] == 0.0
        assert out["down"]["z"] < -3
        # baseline vs itself cancels exactly
        assert out["base"]["u"] == 20.0 * 20.0 / 2
        assert out["base"]["z"] == 0.0

    def test_degenerate_variance_yields_null_z(self, spark):
        from datatest_spark.operators import drift

        # all mass in ONE shared bucket: tie correction kills the
        # variance; z must be NULL, not a division blowup
        df = spark.createDataFrame(
            [("base", 15.0)] * 5 + [("g", 15.0)] * 3, "g string, v double"
        )
        out = {r["group"]: r for r in drift.mwu_from_histogram(
            df, "v", "g", "base", 0.0, 100.0, 10
        ).collect()}
        assert out["g"]["z"] is None
        assert out["g"]["u"] == 3 * 5 / 2.0

    def test_missing_baseline_raises(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import drift

        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with _pytest.raises(Exception, match="baseline_group"):
            drift.mwu_from_histogram(
                df, "v", "g", "nope", 0.0, 10.0, 5
            ).collect()


class TestJsDrift:
    def test_bounds_and_hand_case(self, spark):
        import math

        from datatest_spark.operators import drift

        rows = [("base", 10.0)] * 3 + [("base", 50.0)] * 1
        rows += [("same", 10.0)] * 3 + [("same", 50.0)] * 1
        rows += [("disjoint", 90.0)] * 5
        rows += [("half", 10.0)] * 2 + [("half", 90.0)] * 2
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["group"]: r["js"] for r in drift.js_from_histogram(
            df, "v", "g", "base", 0.0, 100.0, 10
        ).collect()}
        # baseline vs itself and an identical distribution: exactly 0
        assert out["base"] == 0.0
        assert out["same"] == 0.0
        # fully disjoint histograms: the ln 2 cap, never above it
        assert out["disjoint"] == round(math.log(2.0), 4)
        # hand case: p=(.5,0,.5 over buckets 2,6,10), q=(.75,.25,0)
        p = [0.5, 0.0, 0.5]
        q = [0.75, 0.25, 0.0]
        expect = 0.0
        for pi, qi in zip(p, q):
            m = (pi + qi) / 2.0
            if pi > 0:
                expect += pi * math.log(pi / m) / 2.0
            if qi > 0:
                expect += qi * math.log(qi / m) / 2.0
        assert out["half"] == round(expect, 4)

    def test_novel_bucket_finite_no_epsilon_blowup(self, spark):
        import math

        from datatest_spark.operators import drift

        # one group has 90% mass in a bucket the baseline never saw:
        # KL would be infinite, PSI epsilon-dependent; JS must stay
        # finite and below ln 2
        rows = [("base", 10.0)] * 10
        rows += [("novel", 90.0)] * 9 + [("novel", 10.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r["group"]: r["js"] for r in drift.js_from_histogram(
            df, "v", "g", "base", 0.0, 100.0, 10
        ).collect()}
        assert 0.0 < out["novel"] < math.log(2.0)

    def test_missing_baseline_raises(self, spark):
        import pytest as _pytest

        from datatest_spark.operators import drift

        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with _pytest.raises(Exception, match="baseline_group"):
            drift.js_from_histogram(
                df, "v", "g", "nope", 0.0, 10.0, 5
            ).collect()


class TestSpearmanDrift:
    @staticmethod
    def _rows(g, freqs):
        return [(g, k) for k, f in freqs.items() for _ in range(f)]

    def test_identical_inverted_and_shared_vocab(self, spark):
        from datatest_spark.operators import drift

        base = {"a": 1, "b": 2, "c": 3, "d": 4}
        rows = self._rows("base", base)
        rows += self._rows("same", base)
        rows += self._rows("inv", {"a": 4, "b": 3, "c": 2, "d": 1})
        # 'partial' shares only a,b with inverted order; its novel key
        # 'z' must not distort the ranks (shared-vocab semantics)
        rows += self._rows("partial", {"a": 2, "b": 1, "z": 99})
        df = spark.createDataFrame(rows, "g string, k string")
        out = {r["group"]: r for r in drift.spearman_rank_drift(
            df, "k", "g", "base"
        ).collect()}
        assert out["base"]["rho"] == 1.0  # self-test row
        assert out["same"]["rho"] == 1.0
        assert out["inv"]["rho"] == -1.0
        assert out["partial"]["n_shared"] == 2
        assert out["partial"]["rho"] == -1.0

    def test_tie_average_ranks_match_python(self, spark):
        from datatest_spark.operators import drift

        base = {"a": 1, "b": 2, "c": 3, "d": 4}
        cur = {"a": 5, "b": 5, "c": 5, "d": 7}
        rows = self._rows("base", base) + self._rows("g", cur)
        df = spark.createDataFrame(rows, "g string, k string")
        out = {r["group"]: r for r in drift.spearman_rank_drift(
            df, "k", "g", "base"
        ).collect()}
        # hand tie-corrected spearman: x ranks (avg) for 5,5,5,7 =
        # (2,2,2,4); y ranks for 1,2,3,4 = (1,2,3,4); pearson of those
        import statistics as st

        x = [2.0, 2.0, 2.0, 4.0]
        y = [1.0, 2.0, 3.0, 4.0]
        mx, my = st.mean(x), st.mean(y)
        num = sum((a - mx) * (b - my) for a, b in zip(x, y))
        den = (
            sum((a - mx) ** 2 for a in x)
            * sum((b - my) ** 2 for b in y)
        ) ** 0.5
        assert out["g"]["rho"] == round(num / den, 6)

    def test_degenerate_rank_variance_yields_null(self, spark):
        from datatest_spark.operators import drift

        # every shared key equally frequent in the group: zero rank
        # variance -> null rho, not a division blow-up
        rows = self._rows("base", {"a": 1, "b": 2})
        rows += self._rows("flat", {"a": 3, "b": 3})
        df = spark.createDataFrame(rows, "g string, k string")
        out = {r["group"]: r for r in drift.spearman_rank_drift(
            df, "k", "g", "base"
        ).collect()}
        assert out["flat"]["rho"] is None

    def test_missing_baseline_raises(self, spark):
        import pytest as _pytest

        from datatest_spark.operators import drift

        df = spark.createDataFrame([("g", "a")], "g string, k string")
        with _pytest.raises(Exception, match="baseline_group"):
            drift.spearman_rank_drift(df, "k", "g", "nope").collect()


class TestNgramNovelty:
    def test_rates_against_hand_construction(self, spark):
        from datatest_spark.operators import dedup

        old = spark.createDataFrame(
            [(1, "g", "a b c d e f")], "doc_id long, source string, text string"
        )
        new = spark.createDataFrame(
            [
                # doc 2: same text -> zero novel shingles
                (2, "g", "a b c d e f"),
                # doc 3: fully new text -> all shingles novel
                (3, "g", "p q r s t u v"),
                # doc 4: short doc (3 words) -> one whole-text shingle
                (4, "g", "x y z"),
            ],
            "doc_id long, source string, text string",
        )
        (r,) = dedup.ngram_novelty(new, old).collect()
        # old shingles: 'a b c d e','b c d e f' (2). new distinct:
        # same 2 (seen) + 3 from doc3 + 1 from doc4 = 6, novel = 4
        assert r["n_docs"] == 3
        assert r["n_shingles"] == 6 and r["n_novel"] == 4
        assert r["novelty_rate"] == round(4 / 6, 6)
        # docs 3 and 4 are 100% novel; doc 2 is 0%
        assert r["n_docs_mostly_novel"] == 2
        assert r["mostly_novel_rate"] == round(2 / 3, 6)

    def test_disjoint_group_and_empty_overlap(self, spark):
        from datatest_spark.operators import dedup

        old = spark.createDataFrame(
            [(1, "g", "a b c d e")], "doc_id long, source string, text string"
        )
        new = spark.createDataFrame(
            [(2, "h", "a b c d e"), (3, "h", None)],
            "doc_id long, source string, text string",
        )
        (r,) = dedup.ngram_novelty(new, old).collect()
        # the null-text doc contributes to n_docs but no shingles
        assert r["group"] == "h" and r["n_docs"] == 2
        assert r["n_novel"] == 0 and r["novelty_rate"] == 0.0
        assert r["n_docs_mostly_novel"] == 0

    def test_frac_validated(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "g", "a")], "doc_id long, source string, text string"
        )
        with _pytest.raises(ValueError):
            dedup.ngram_novelty(df, df, doc_novel_frac=1.0)


class TestSampleRateAudit:
    def test_exact_delivery_passes_underdelivery_fails(self, spark):
        from datatest_spark.operators import packing

        orig = spark.createDataFrame(
            [("g", i) for i in range(1000)] + [("h", i) for i in range(100)],
            "source string, i long",
        )
        # g: exactly half kept; h: requested 0.5 but nothing kept
        sampled = orig.where(
            ((F.col("source") == "g") & (F.col("i") % 2 == 0))
        )
        out = {r["group"]: r for r in packing.sample_rate_audit(
            orig, sampled, {"g": 0.5, "h": 0.5}
        ).collect()}
        assert out["g"]["status"] == "pass" and out["g"]["z"] == 0.0
        assert out["g"]["achieved_rate"] == 0.5
        assert out["h"]["status"] == "fail"
        assert out["h"]["z"] == round(-0.5 * 100 / (0.25 * 100) ** 0.5, 4)

    def test_unexpected_group_and_default_rate_one(self, spark):
        from datatest_spark.operators import packing

        orig = spark.createDataFrame([("g", 1)], "source string, i long")
        sampled = spark.createDataFrame(
            [("g", 1), ("ghost", 2)], "source string, i long"
        )
        out = {r["group"]: r for r in packing.sample_rate_audit(
            orig, sampled, {}
        ).collect()}
        # g audited against p=1 (nothing should drop): kept -> pass,
        # variance 0 -> z NULL
        assert out["g"]["status"] == "pass" and out["g"]["z"] is None
        assert out["ghost"]["status"] == "unexpected"
        assert out["ghost"]["n_orig"] == 0

    def test_validation(self, spark):
        import pytest as _pytest
        from datatest_spark.operators import packing

        df = spark.createDataFrame([("g", 1)], "source string, i long")
        with _pytest.raises(ValueError, match="max_z"):
            packing.sample_rate_audit(df, df, {}, max_z=0)
        with _pytest.raises(ValueError, match="rate for"):
            packing.sample_rate_audit(df, df, {"g": 1.5})


class TestReviewFixes:
    """Pins for the round-5 session-4 review findings."""

    def test_heavy_hitters_null_group_not_dropped(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(None, "hot")] * 9 + [(None, "w")] + [("g", "x")],
            "src string, v string",
        )
        out = {(r["group"], r["value"]): r for r in stats.heavy_hitters(
            df, "v", "src", phi=0.5).collect()}
        assert ("__null__", "hot") in out
        assert out[("__null__", "hot")]["n"] == 9
        assert ("g", "x") in out

    def test_bootstrap_null_group_gets_interval(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(None, "d%d" % i, float(i)) for i in range(30)],
            "src string, doc_id string, v double",
        )
        (r,) = stats.bootstrap_ci(df, "v", "src", id_col="doc_id",
                                  n_boot=16).collect()
        assert r["group"] == "__null__"
        assert r["n_boot_used"] == 16
        assert r["ci_lo"] is not None and r["ci_lo"] <= r["ci_hi"]

    def test_sample_audit_degenerate_rates_cannot_pass(self, spark):
        from datatest_spark.operators import packing

        orig = spark.createDataFrame(
            [("g", i) for i in range(100)] + [("z", 1)],
            "source string, i long",
        )
        # p=1 (default) but 60 rows dropped -> must FAIL, not z-NULL-pass
        sampled = orig.where((F.col("source") == "g") & (F.col("i") < 40))
        out = {r["group"]: r for r in packing.sample_rate_audit(
            orig, sampled, {}
        ).collect()}
        assert out["g"]["status"] == "fail" and out["g"]["z"] is None
        assert out["z"]["status"] == "fail"  # p=1, nothing survived
        # p=0 but rows delivered -> fail
        out0 = {r["group"]: r for r in packing.sample_rate_audit(
            orig, sampled, {"g": 0.0, "z": 0.0}
        ).collect()}
        assert out0["g"]["status"] == "fail"
        assert out0["z"]["status"] == "pass"  # p=0, zero delivered
        with __import__("pytest").raises(ValueError, match="default"):
            packing.sample_rate_audit(orig, sampled, {}, default_rate=2.0)


class TestVolumeAnomalies:
    def test_volume_spike_flagged_by_composition(self, spark):
        """mad_outliers over an aggregated daily-count frame — the
        composition q:volume_anomalies runs — must flag a spike day."""
        from datatest_spark.operators.stats import mad_outliers

        rows = []
        for d in range(11):
            # normal days wobble (MAD must be nonzero — identical days
            # are the documented MAD=0 no-flag case); day 7 spikes 5x
            n = 1000 + d if d != 7 else 5000
            rows.append(("click", d, n))
        daily = spark.createDataFrame(
            rows, "event_type string, day long, n_rows long"
        )
        out = mad_outliers(
            daily, "n_rows", group_col="event_type", id_col="day",
            threshold=2.0, exact=True,
        ).collect()
        assert [r["day"] for r in out] == [7]
        assert out[0]["robust_z"] > 2.0


class TestSession6Ops:
    """Pins for the session-6 overflow-window operators
    (minhash_error_audit, dup_ngram_fraction, heaps_fit): each is
    value-oracled in the tools/check_oracles.py mirror sweep; these pins
    lock the semantics on hand-built fixtures."""

    def test_minhash_error_audit_identical_docs(self, spark):
        # two identical docs: exact jaccard 1.0 and every signature row
        # agrees, so the estimator must land exactly on the truth
        t = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [(1, t), (2, t), (3, "totally different words here now ok")],
            "doc_id long, text string",
        )
        rows = dedup.minhash_error_audit(df, min_jaccard=0.5).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
        r = rows[0]
        assert r["jaccard"] == 1.0
        assert r["estimate"] == 1.0
        assert r["abs_err"] == 0.0

    def test_minhash_error_audit_estimator_granularity(self, docs):
        rows = dedup.minhash_error_audit(
            docs, num_hashes=8, min_jaccard=0.2
        ).collect()
        assert rows, "sf0.001 documents contain near-dup pairs"
        for r in rows:
            # estimate is (#agreeing rows)/8 — an eighth-grid value
            assert abs(r["estimate"] * 8 - round(r["estimate"] * 8)) < 1e-9
            assert 0.2 <= r["jaccard"] <= 1.0
            assert abs(r["abs_err"] - abs(r["jaccard"] - r["estimate"])) <= 1e-4
        # unbiased estimator sanity: mean |err| stays inside ~2x the
        # worst-case stderr sqrt(.25/8) = 0.177
        mean_err = sum(r["abs_err"] for r in rows) / len(rows)
        assert mean_err < 0.35

    def test_minhash_error_audit_pairs_match_jaccard_pairs(self, docs):
        audited = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_error_audit(
                docs, min_jaccard=0.5
            ).collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, k=5, threshold=0.5
            ).collect()
        }
        assert audited == exact

    def test_dup_ngram_fraction_hand_fixture(self, spark):
        # group A: two identical docs (every shingle duplicated);
        # group B: one unique doc (nothing duplicated)
        t = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame(
            [
                (1, t, "A"),
                (2, t, "A"),
                (3, "unique words that appear nowhere else at all ok", "B"),
            ],
            "doc_id long, text string, source string",
        )
        rows = {r["group"]: r for r in dedup.dup_ngram_fraction(df).collect()}
        assert rows["A"]["n_docs"] == 2
        assert rows["A"]["mean_dup_frac"] == 1.0
        assert rows["A"]["pooled_dup_share"] == 1.0
        assert rows["B"]["n_docs"] == 1
        assert rows["B"]["mean_dup_frac"] == 0.0
        assert rows["B"]["pooled_dup_share"] == 0.0

    def test_dup_ngram_fraction_bounds_and_doc_weighting(self, docs):
        rows = dedup.dup_ngram_fraction(docs, k=5).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["mean_dup_frac"] <= 1.0
            assert 0.0 <= r["pooled_dup_share"] <= 1.0

    def test_heaps_fit_invariants(self, docs):
        rows = sorted(
            text.heaps_fit(docs, n_buckets=10).collect(),
            key=lambda r: r["bucket"],
        )
        assert len(rows) == 10
        # cumulative curves are monotone non-decreasing
        for a, b in zip(rows, rows[1:]):
            assert b["cum_tokens"] >= a["cum_tokens"]
            assert b["cum_vocab"] >= a["cum_vocab"]
        # fit columns are a single repeated value
        assert len({r["beta"] for r in rows}) == 1
        assert len({r["r2"] for r in rows}) == 1
        # sf0.001 docs draw from a ~31-word vocab, so cum_vocab can be
        # constant across buckets: r2 is then NULL by definition (zero
        # y-variance) and beta is 0
        if rows[0]["r2"] is not None:
            assert 0.0 <= rows[0]["r2"] <= 1.0
        else:
            assert len({r["cum_vocab"] for r in rows}) == 1
            assert rows[0]["beta"] == 0.0
        # final checkpoint equals the corpus totals
        total_tokens = docs.select(
            F.sum(F.size(F.split("text", " "))).alias("n")
        ).collect()[0]["n"]
        total_vocab = (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .select("w").distinct().count()
        )
        assert rows[-1]["cum_tokens"] == total_tokens
        assert rows[-1]["cum_vocab"] == total_vocab

    def test_heaps_fit_template_flood_collapses_beta(self, spark):
        # natural-ish head then a flood of identical template docs:
        # vocabulary stops growing, so the fitted slope sits well below
        # the ~0.5 a growing corpus shows
        import random

        rng = random.Random(7)
        rows = []
        for i in range(60):
            rows.append(
                (i, " ".join("w%d" % rng.randrange(4000) for _ in range(40)))
            )
        template = " ".join("t%d" % j for j in range(40))
        for i in range(60, 400):
            rows.append((i, template))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fit = text.heaps_fit(df, n_buckets=10).collect()[0]
        grow = spark.createDataFrame(rows[:60], "doc_id long, text string")
        fit_grow = text.heaps_fit(grow, n_buckets=10).collect()[0]
        assert fit["beta"] < 0.2 < fit_grow["beta"]

    def test_heaps_fit_validates_params(self, docs):
        with pytest.raises(ValueError, match="n_buckets"):
            text.heaps_fit(docs, n_buckets=1)
        with pytest.raises(ValueError, match="scale_bits"):
            text.heaps_fit(docs, scale_bits=0)
        # fixed-point moments must stay inside bigint: many checkpoints
        # at high scale_bits would silently WRAP in non-ANSI Spark
        with pytest.raises(ValueError, match="overflows"):
            text.heaps_fit(docs, n_buckets=1000, scale_bits=20)


class TestFuzzyDupPairs:
    def test_typo_pair_found_exact_distance(self, spark):
        a = "the quick brown fox jumps over it"  # 33 chars -> key 32
        b = "the quick brwon fox jumps over it"  # transposition: dist 2
        c = "completely unrelated content here"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        rows = dedup.fuzzy_dup_pairs(df, max_distance=4).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
        assert rows[0]["distance"] == 2

    def test_matches_bruteforce_python_mirror(self, docs):
        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        keys = {
            r["doc_id"]: r["key"]
            for r in docs.select(
                "doc_id", F.substring("text", 1, 32).alias("key")
            ).collect()
            if r["key"] is not None and len(r["key"]) >= 15
        }
        ids = sorted(keys)
        want = set()
        for i, x in enumerate(ids):
            for y in ids[i + 1:]:
                if abs(len(keys[x]) - len(keys[y])) <= 4 and \
                        lev(keys[x], keys[y]) <= 4:
                    want.add((x, y))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.fuzzy_dup_pairs(docs, max_distance=4).collect()
        }
        assert got == want

    def test_lossless_guard_rejects_short_keys(self, spark):
        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError, match="lossless"):
            dedup.fuzzy_dup_pairs(df, max_distance=4, key_chars=10, q=3)
        with pytest.raises(ValueError, match="max_distance"):
            dedup.fuzzy_dup_pairs(df, max_distance=-1)
        with pytest.raises(ValueError, match="q must"):
            dedup.fuzzy_dup_pairs(df, q=1)

    def test_short_keys_excluded_by_domain_contract(self, spark):
        # 'abc' vs 'axbxc' are 2 edits apart yet share NO 3-gram — the
        # lossless bound genuinely fails below len q+q*d, so such keys
        # are excluded (not silently half-matched) on BOTH engines
        df = spark.createDataFrame(
            [(1, "abc"), (2, "axbxc"),
             (3, "a long enough key to qualify xx"),
             (4, "a long enough key to qualify yy")],
            "doc_id long, text string",
        )
        rows = dedup.fuzzy_dup_pairs(df, max_distance=4).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(3, 4)]
        assert rows[0]["distance"] == 2

    def test_no_cartesian_product_in_plan(self, docs):
        plan = dedup.fuzzy_dup_pairs(
            docs, max_distance=4
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestQuantileShift:
    def test_hand_fixture_shifts(self, spark):
        rows = [("base", float(v)) for v in range(1, 101)]
        rows += [("up", float(v + 10)) for v in range(1, 101)]
        df = spark.createDataFrame(rows, "source string, x double")
        from datatest_spark.operators import drift

        out = drift.quantile_shift(
            df, "x", "source", "base", quantiles=(0.25, 0.5, 0.75)
        ).collect()
        by = {(r["group"], r["quantile"]): r for r in out}
        # baseline rows self-test to zero shift
        for p in (0.25, 0.5, 0.75):
            assert by[("base", p)]["shift"] == 0.0
        # a uniform +10 level change shifts every quantile by exactly 10
        for p in (0.25, 0.5, 0.75):
            assert by[("up", p)]["shift"] == 10.0
        # interpolated median of 1..100 is 50.5
        assert by[("base", 0.5)]["group_value"] == 50.5

    def test_missing_baseline_raises(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "source string, x double"
        )
        from datatest_spark.operators import drift

        with pytest.raises(Exception, match="baseline_group"):
            drift.quantile_shift(df, "x", "source", "nope").collect()

    def test_exact_approx_agree_on_fixture(self, docs):
        from datatest_spark.operators import drift

        kw = dict(quantiles=(0.25, 0.5, 0.75))
        ex = {
            (r["group"], r["quantile"]): r["group_value"]
            for r in drift.quantile_shift(
                docs, "n_chars", "source", "src0", exact=True, **kw
            ).collect()
        }
        ap = {
            (r["group"], r["quantile"]): r["group_value"]
            for r in drift.quantile_shift(
                docs, "n_chars", "source", "src0", exact=False, **kw
            ).collect()
        }
        assert set(ex) == set(ap)
        for key, v in ex.items():
            # GK sketch at default accuracy: within 5% relative on this
            # fixture (lengths are O(100), sketch error is rank-based)
            assert abs(ap[key] - v) <= max(0.05 * abs(v), 1.0)

    def test_param_validation(self, spark):
        df = spark.createDataFrame([("a", 1.0)], "source string, x double")
        from datatest_spark.operators import drift

        with pytest.raises(ValueError, match="ascending"):
            drift.quantile_shift(df, "x", "source", "a",
                                 quantiles=(0.5, 0.25))
        with pytest.raises(ValueError, match="quantiles"):
            drift.quantile_shift(df, "x", "source", "a", quantiles=(1.5,))


class TestPercentileRankNormalize:
    def test_exact_hand_fixture(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0), (4, "a", 40.0),
             (5, "b", 5.0), (6, "b", None)],
            "doc_id long, source string, score double",
        )
        rows = {
            r["doc_id"]: r["pct_rank"]
            for r in stats.percentile_rank_normalize(
                df, "score", "source", exact=True
            ).collect()
        }
        # CUME_DIST: ties share (#rows <= mine)/group size
        assert rows[1] == 0.25
        assert rows[2] == rows[3] == 0.75
        assert rows[4] == 1.0
        # singleton non-null group ranks 1.0; null score -> null rank,
        # excluded from b's denominator
        assert rows[5] == 1.0
        assert rows[6] is None

    def test_approx_tracks_exact(self, docs):
        from datatest_spark.operators import stats

        ex = {
            r["doc_id"]: r["pct_rank"]
            for r in stats.percentile_rank_normalize(
                docs, "n_chars", "source", exact=True
            ).collect()
        }
        ap = {
            r["doc_id"]: r["pct_rank"]
            for r in stats.percentile_rank_normalize(
                docs, "n_chars", "source", exact=False, nbins=1000
            ).collect()
        }
        assert set(ex) == set(ap)
        sizes = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        srcs = {r["doc_id"]: r["source"] for r in
                docs.select("doc_id", "source").collect()}
        for k, v in ex.items():
            # approx counts strict boundaries (exact counts ties <=) and
            # the GK sketch interpolates ranks — both effects are a few
            # RANKS, so the tolerance scales as ranks/group_size (the
            # approx path is built for groups of 10^8, not 25)
            assert abs(ap[k] - v) <= 4.0 / sizes[srcs[k]] + 1e-9

    def test_monotone_within_group(self, docs):
        from datatest_spark.operators import stats

        rows = stats.percentile_rank_normalize(
            docs, "n_chars", "source", exact=False
        ).collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(
                (r["n_chars"], r["pct_rank"])
            )
        for vals in by_src.values():
            vals.sort()
            for (s1, p1), (s2, p2) in zip(vals, vals[1:]):
                if s1 < s2:
                    assert p1 <= p2

    def test_nbins_validation(self, spark):
        from datatest_spark.operators import stats

        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "doc_id long, source string, score double")
        with pytest.raises(ValueError, match="nbins"):
            stats.percentile_rank_normalize(df, "score", "source", nbins=1)


class TestFreqSpectrum:
    def test_hand_fixture_buckets(self, spark):
        # corpus: 'a' x8 (bucket 3), 'b' x3 (bucket 1), 'c' x1, 'd' x1
        # (bucket 0)
        df = spark.createDataFrame(
            [(1, "a a a a b c"), (2, "a a a a b b d")],
            "doc_id long, text string",
        )
        rows = {r["freq_bucket"]: r for r in text.freq_spectrum(df).collect()}
        assert rows[0]["n_types"] == 2 and rows[0]["token_mass"] == 2
        assert rows[0]["min_count"] == 1
        assert rows[1]["n_types"] == 1 and rows[1]["token_mass"] == 3
        assert rows[1]["min_count"] == 2
        assert rows[3]["n_types"] == 1 and rows[3]["token_mass"] == 8
        assert rows[3]["min_count"] == 8
        assert set(rows) == {0, 1, 3}

    def test_mass_partition_and_power_of_two_edges(self, docs):
        rows = text.freq_spectrum(docs).collect()
        total_mass = sum(r["token_mass"] for r in rows)
        expect = docs.select(
            F.sum(F.size(F.filter(F.split("text", " "),
                                  lambda t: t != ""))).alias("n")
        ).collect()[0]["n"]
        assert total_mass == expect
        for r in rows:
            assert r["min_count"] == 2 ** r["freq_bucket"]
            # every bucket's mass is within [n_types*2^b, n_types*(2^(b+1)-1)]
            assert r["n_types"] * r["min_count"] <= r["token_mass"]
            assert r["token_mass"] <= r["n_types"] * (2 * r["min_count"] - 1)

    def test_raw_counts_mode(self, spark):
        df = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
        rows = {
            r["freq_bucket"]: r
            for r in text.freq_spectrum(df, log2_buckets=False).collect()
        }
        assert rows[1]["n_types"] == 1 and rows[1]["min_count"] == 1
        assert rows[2]["n_types"] == 1 and rows[2]["min_count"] == 2


class TestSession7Ops:
    """Pins for the session-7 overflow-window operators
    (jaccard_sweep, chain_collapse): each is value-oracled in
    the tools/check_oracles.py mirror sweep; these pins lock the
    semantics on hand-built fixtures."""

    # --- jaccard_threshold_sweep ---

    def _sweep_docs(self, spark):
        # k=1 word shingles make the set math readable:
        # A==B (j 1.0), C~D (inter {a,b} = 2 of union 6 -> j 1/3),
        # E shares nothing
        return spark.createDataFrame(
            [
                (1, "w1 w2 w3 w4"),
                (2, "w1 w2 w3 w4"),
                (3, "a b c d"),
                (4, "a b x y"),
                (5, "lonely unique words only"),
            ],
            "doc_id long, text string",
        )

    def test_sweep_hand_curve(self, spark):
        rows = {
            r["threshold"]: (r["n_pairs"], r["n_docs"])
            for r in dedup.jaccard_threshold_sweep(
                self._sweep_docs(spark), k=1,
                thresholds=(0.3, 0.5, 0.95),
            ).collect()
        }
        assert rows[0.3] == (2, 4)   # (1,2) and (3,4)
        assert rows[0.5] == (1, 2)   # only the exact copy
        assert rows[0.95] == (1, 2)
    def test_sweep_zero_threshold_row_kept(self, spark):
        rows = {
            r["threshold"]: (r["n_pairs"], r["n_docs"])
            for r in dedup.jaccard_threshold_sweep(
                self._sweep_docs(spark), k=1, thresholds=(0.5, 1.01),
            ).collect()
        }
        # a threshold past every pair still gets its (0, 0) row —
        # the curve's right edge is data, not an absent key
        assert rows[1.01] == (0, 0)
        assert rows[0.5] == (1, 2)

    def test_sweep_matches_single_threshold_operator(self, docs):
        swept = {
            r["threshold"]: r["n_pairs"]
            for r in dedup.jaccard_threshold_sweep(
                docs, thresholds=(0.5, 0.8)
            ).collect()
        }
        for t in (0.5, 0.8):
            direct = dedup.ngram_jaccard_pairs(docs, threshold=t).count()
            assert swept[t] == direct

    def test_sweep_monotone_nonincreasing(self, docs):
        rows = sorted(
            dedup.jaccard_threshold_sweep(
                docs, thresholds=(0.2, 0.4, 0.6, 0.8)
            ).collect(),
            key=lambda r: r["threshold"],
        )
        for lo, hi in zip(rows, rows[1:]):
            assert lo["n_pairs"] >= hi["n_pairs"]
            assert lo["n_docs"] >= hi["n_docs"]

    def test_sweep_validation(self, spark):
        df = self._sweep_docs(spark)
        with pytest.raises(ValueError, match="non-empty"):
            dedup.jaccard_threshold_sweep(df, thresholds=())
        with pytest.raises(ValueError, match="> 0"):
            dedup.jaccard_threshold_sweep(df, thresholds=(0.0, 0.5))

    # --- chain_collapse_audit ---

    def test_chain_open_wedge(self, spark):
        # A~B and B~C at j=0.6 but j(A,C)=1/3: one wedge, zero closed —
        # exactly the chaining pathology the audit exists to expose
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c x"), (3, "b c x y")],
            "doc_id long, text string",
        )
        r = dedup.chain_collapse_audit(df, k=1, threshold=0.5).collect()[0]
        assert (r["n_edges"], r["n_wedges"], r["n_closed"]) == (2, 1, 0)
        assert r["transitivity"] == 0.0

    def test_chain_triangle_closes(self, spark):
        t = "same words in every copy"
        df = spark.createDataFrame(
            [(i, t) for i in range(3)], "doc_id long, text string"
        )
        r = dedup.chain_collapse_audit(df, k=1, threshold=0.9).collect()[0]
        # triangle: 3 edges, one wedge per center, all closed
        assert (r["n_edges"], r["n_wedges"], r["n_closed"]) == (3, 3, 3)
        assert r["transitivity"] == 1.0

    def test_chain_no_wedges_is_null(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d"), (3, "p q r s")],
            "doc_id long, text string",
        )
        r = dedup.chain_collapse_audit(df, k=1, threshold=0.5).collect()[0]
        assert (r["n_edges"], r["n_wedges"], r["n_closed"]) == (1, 0, 0)
        assert r["transitivity"] is None


class TestSeriesAutocorr:
    """Pins for stats.series_autocorr (value-oracled in the mirror
    sweep): literal Pearson-over-lag-pairs mirror, periodic vs flat
    structure, guard behavior."""

    def _series(self, spark, values, group="g"):
        return spark.createDataFrame(
            [(group, t, float(v)) for t, v in enumerate(values)],
            "source string, t long, n double",
        )

    def test_matches_literal_pearson(self, spark):
        from datatest_spark.operators.stats import series_autocorr

        vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
        got = {
            r["lag"]: (r["n_pairs"], r["autocorr"])
            for r in series_autocorr(
                self._series(spark, vals), "n", "t", lags=(1, 3)
            ).collect()
        }

        def pearson(k):
            xs = [float(v) for v in vals[k:]]
            ys = [float(v) for v in vals[:-k]]
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxx = sum(x * x for x in xs)
            syy = sum(y * y for y in ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            num = n * sxy - sx * sy
            return round(
                num / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5, 6
            )

        assert got[1] == (len(vals) - 1, pearson(1))
        assert got[3] == (len(vals) - 3, pearson(3))

    def test_periodic_series_high_lag_period(self, spark):
        from datatest_spark.operators.stats import series_autocorr

        vals = [10, 2, 5, 10, 2, 5, 10, 2, 5, 10, 2, 5]  # period 3
        got = {
            r["lag"]: r["autocorr"]
            for r in series_autocorr(
                self._series(spark, vals), "n", "t", lags=(1, 3)
            ).collect()
        }
        assert got[3] == 1.0          # exact periodicity
        assert got[1] < 0.5           # no adjacent structure
        # a constant (flat bot) series has zero variance -> NULL
        flat = series_autocorr(
            self._series(spark, [7] * 10), "n", "t", lags=(1,)
        ).collect()
        assert flat[0]["autocorr"] is None

    def test_guards_and_null_handling(self, spark):
        from datatest_spark.operators.stats import series_autocorr

        df = self._series(spark, [1, 2, 3])
        with pytest.raises(ValueError, match="lags"):
            series_autocorr(df, "n", "t", lags=())
        with pytest.raises(ValueError, match="lags"):
            series_autocorr(df, "n", "t", lags=(0,))
        dup = spark.createDataFrame(
            [("g", 1, 1.0), ("g", 1, 2.0)],
            "source string, t long, n double",
        )
        with pytest.raises(Exception, match="duplicate"):
            series_autocorr(dup, "n", "t", lags=(1,)).collect()
        # a lag longer than every group's series yields no row
        short = series_autocorr(df, "n", "t", lags=(9,)).collect()
        assert short == []


class TestSchemaDrift:
    """Pins for checks.schema_drift (value-oracled in the mirror
    sweep): status matrix, class mapping, null-rate movement,
    empty-side behavior."""

    def test_status_matrix_and_null_rates(self, spark):
        from datatest_spark.operators.checks import schema_drift

        old = spark.createDataFrame(
            [(1, "a", 10), (2, None, 20), (3, "c", None)],
            "id long, name string, size long",
        )
        new = spark.createDataFrame(
            [(1, "a", 10.0, True), (2, "b", None, None), (3, None, 3.0,
                                                          False)],
            "id long, name string, size double, flag boolean",
        )
        got = {r["column"]: r for r in schema_drift(old, new).collect()}
        assert [r for r in got] == sorted(got)  # sorted by name
        assert got["id"]["status"] == "kept"
        assert got["flag"]["status"] == "added"
        assert got["flag"]["old_class"] is None
        assert got["flag"]["new_class"] == "boolean"
        assert got["size"]["status"] == "type_changed"
        assert (got["size"]["old_class"], got["size"]["new_class"]) == (
            "integer", "float")
        assert got["size"]["old_null_rate"] == round(1 / 3, 6)
        assert got["size"]["new_null_rate"] == round(1 / 3, 6)
        assert got["size"]["null_rate_delta"] == 0.0
        assert got["name"]["null_rate_delta"] == 0.0
        # removed column: delta undefined
        only_old = spark.createDataFrame([(1, "x")], "id long, gone string")
        g2 = {
            r["column"]: r
            for r in schema_drift(only_old, only_old.drop("gone")).collect()
        }
        assert g2["gone"]["status"] == "removed"
        assert g2["gone"]["new_null_rate"] is None
        assert g2["gone"]["null_rate_delta"] is None

    def test_empty_side_rates_null(self, spark):
        from datatest_spark.operators.checks import schema_drift

        old = spark.createDataFrame([(1,)], "id long")
        empty = spark.createDataFrame([], "id long, extra string")
        got = {r["column"]: r for r in schema_drift(old, empty).collect()}
        assert got["id"]["old_null_rate"] == 0.0
        assert got["id"]["new_null_rate"] is None
        assert got["extra"]["status"] == "added"

    def test_type_class_mapping(self):
        from datatest_spark.operators.checks import _type_class

        assert _type_class("bigint") == "integer"
        assert _type_class("decimal(38,0)") == "decimal"
        assert _type_class("timestamp_ntz") == "timestamp"
        assert _type_class("array<int>") == "array"
        assert _type_class("struct<a:int>") == "struct"
        assert _type_class("void") == "other"


class TestBandMigration:
    """Pins for stats.band_migration (value-oracled in the mirror
    sweep): diagonal identity, directed demotion, entered/exited
    labeling, frac normalization."""

    def _snap(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, score double"
        )

    def test_identity_snapshot_is_diagonal(self, spark):
        from datatest_spark.operators.stats import band_migration

        old = self._snap(
            spark, [(i, "s", float(i)) for i in range(1, 9)]
        )
        rows = band_migration(old, old, "score", n_bands=4,
                              exact=True).collect()
        assert all(r["band_old"] == r["band_new"] for r in rows)
        assert all(r["frac"] == 1.0 for r in rows)
        assert sum(r["n"] for r in rows) == 8

    def test_demotion_enter_exit_and_frac(self, spark):
        from datatest_spark.operators.stats import band_migration

        # 8 docs in 4 exact bands of 2; new snapshot: doc 8 (top band)
        # rescored to the bottom, doc 1 exits, doc 99 enters mid
        old = self._snap(spark, [(i, "s", float(i)) for i in range(1, 9)])
        new = self._snap(
            spark,
            [(i, "s", float(i)) for i in range(2, 8)]
            + [(8, "s", 0.5), (99, "s", 4.5)],
        )
        got = {
            (r["band_old"], r["band_new"]): r
            for r in band_migration(old, new, "score", n_bands=4,
                                    exact=True).collect()
        }
        # doc 8 fell from band 4 to band 1
        assert got[(4, 1)]["n"] == 1
        # doc 1 exited: band_old 1 -> band_new NULL
        assert got[(1, None)]["n"] == 1
        # doc 99 entered: band_old NULL (new ordering puts it in band 3:
        # sorted scores 0.5,2,3,4,4.5,5,6,7 -> pairs per band)
        assert got[(None, 3)]["n"] == 1 and got[(None, 3)]["frac"] == 1.0
        # frac normalizes within (group, band_old): band 4 split 50/50
        b4 = [r for (bo, bn), r in got.items() if bo == 4]
        assert sorted(r["frac"] for r in b4) == [0.5, 0.5]

    def test_null_group_and_approx_default_runs(self, spark):
        from datatest_spark.operators.stats import band_migration

        old = self._snap(
            spark, [(1, None, 1.0), (2, None, 2.0), (3, "s", 3.0)]
        )
        rows = band_migration(old, old, "score", n_bands=2).collect()
        groups = {r["group"] for r in rows}
        assert groups == {"__null__", "s"}
        assert all(r["band_old"] == r["band_new"] for r in rows)


class TestCompressionRatio:
    """Pins for text.compression_ratio / compression_profile (rows-only
    driver entry — DEFLATE has no SQL oracle, so these construction
    tests carry the semantics)."""

    def test_templated_compresses_much_better_than_entropy(self, spark):
        import hashlib

        from datatest_spark.operators.text import compression_ratio

        noisy = " ".join(
            hashlib.sha256(str(i).encode()).hexdigest() for i in range(60)
        )
        docs = spark.createDataFrame(
            [
                (1, "tpl", "buy now! " * 400),
                (2, "rnd", noisy),
                (3, "tpl", None),
                (4, "tpl", ""),
            ],
            "doc_id long, source string, text string",
        )
        got = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
        assert got[1]["ratio"] < 0.05          # template collapses
        assert got[2]["ratio"] > 0.4           # high entropy resists
        assert got[1]["raw_bytes"] == len("buy now! " * 400)
        # null/empty text: stable rows, null ratio
        assert got[3]["raw_bytes"] == 0 and got[3]["ratio"] is None
        assert got[4]["raw_bytes"] == 0 and got[4]["ratio"] is None
        with pytest.raises(ValueError, match="level"):
            compression_ratio(docs, level=11)

    def test_ratio_invariant_to_partitioning(self, spark):
        from datatest_spark.operators.text import compression_ratio

        docs = spark.createDataFrame(
            [(i, "s", "pattern %d " % (i % 3) * 50) for i in range(40)],
            "doc_id long, source string, text string",
        )
        a = {
            r["doc_id"]: r["ratio"]
            for r in compression_ratio(docs.repartition(1)).collect()
        }
        b = {
            r["doc_id"]: r["ratio"]
            for r in compression_ratio(docs.repartition(13)).collect()
        }
        assert a == b

    def test_profile_pools_exact_byte_sums(self, spark):
        import zlib

        from datatest_spark.operators.text import compression_profile

        texts = {1: "aaaa " * 100, 2: "zqx 9f!", 3: "aaaa " * 50}
        docs = spark.createDataFrame(
            [(k, "s" if k != 2 else None, v) for k, v in texts.items()],
            "doc_id long, source string, text string",
        )
        got = {r["group"]: r for r in compression_profile(docs).collect()}
        raw_s = sum(len(texts[k].encode()) for k in (1, 3))
        z_s = sum(len(zlib.compress(texts[k].encode(), 6)) for k in (1, 3))
        assert got["s"]["n_docs"] == 2
        assert (got["s"]["raw_bytes"], got["s"]["z_bytes"]) == (raw_s, z_s)
        assert got["s"]["pooled_ratio"] == round(z_s / raw_s, 6)
        assert got["s"]["bits_per_byte"] == round(z_s * 8.0 / raw_s, 4)
        assert got["__null__"]["n_docs"] == 1


class TestTrigramBackoff:
    """Pins for the session-9 stupid-backoff trigram LM
    (text.trigram_model / trigram_backoff_logloss): the registered
    query is value-oracled in the mirror sweep; these pins lock the
    three-level backoff semantics against a pure-Python mirror and tie
    the oracle's embedded penalty literal to the code."""

    def test_backoff_constant_matches_oracle_literal(self):
        # the trigram_logloss oracle SQL embeds -1386143; if this pin
        # breaks, update BOTH the SQL and this test
        assert text.backoff_fixed(0.4, 20) == -1386143
        import math
        assert text.backoff_fixed(0.5, 20) == -(1 << 20)
        for bad in (0.0, -0.1, 1.5):
            try:
                text.backoff_fixed(bad)
                assert False, bad
            except ValueError:
                pass

    def test_matches_python_mirror_on_all_levels(self, spark):
        import math
        from collections import Counter

        refdocs = [[1, 2, 3, 1, 2, 3, 1, 2, 4], [2, 3, 1, 5, 5, 5]]
        # doc 1: all trigrams seen; doc 2: unigram backoff (t=1);
        # doc 6: BIGRAM backoff ((2,3) seen as pair, (9,2,3) unseen);
        # doc 3: OOV (9 not in ref vocab); docs 4/5: too short / null
        score_docs = {
            1: [1, 2, 3, 1], 2: [3, 2, 1], 3: [9, 9, 9], 4: [1, 2],
            5: None, 6: [9, 2, 3],
        }
        ref = spark.createDataFrame(
            [(100 + i, d) for i, d in enumerate(refdocs)],
            "doc_id long, tokens array<int>",
        )
        df = spark.createDataFrame(
            list(score_docs.items()), "doc_id long, tokens array<int>"
        )
        got = {
            r["doc_id"]: (
                r["n_trigrams"], r["n_backoff_bigram"],
                r["n_backoff_unigram"], r["n_oov"], r["bits_per_trigram"],
            )
            for r in text.trigram_backoff_logloss(df, ref).collect()
        }
        c3, c2, c1 = Counter(), Counter(), Counter()
        n_total = 0
        for d in refdocs:
            for i in range(len(d) - 2):
                c3[tuple(d[i:i + 3])] += 1
            for i in range(len(d) - 1):
                c2[tuple(d[i:i + 2])] += 1
            for t in d:
                c1[t] += 1
                n_total += 1
        ctx3, ctx2 = Counter(), Counter()
        for (a, b, c), n in c3.items():
            ctx3[(a, b)] += n
        for (a, b), n in c2.items():
            ctx2[a] += n
        S = 1 << 20
        pen = text.backoff_fixed()

        def fx(num, den):
            return math.floor((math.log2(num) - math.log2(den)) * S)

        for doc_id, doc in score_docs.items():
            doc = doc or []
            n_tri = nb2 = nb1 = noov = k = s = 0
            for i in range(len(doc) - 2):
                tri = tuple(doc[i:i + 3])
                n_tri += 1
                if tri in c3:
                    v = fx(c3[tri], ctx3[tri[:2]])
                elif tri[1:] in c2:
                    v = fx(c2[tri[1:]], ctx2[tri[1]]) + pen
                    nb2 += 1
                elif tri[2] in c1:
                    v = fx(c1[tri[2]], n_total) + 2 * pen
                    nb1 += 1
                else:
                    noov += 1
                    continue
                s += v
                k += 1
            bits = round((-s / S) / k, 4) if k else None
            assert got[doc_id] == (n_tri, nb2, nb1, noov, bits), doc_id
        # the fixture genuinely exercises every level
        assert got[6][1] == 1   # bigram backoff fired
        assert got[2][2] == 1   # unigram backoff fired
        assert got[3][3] == 1   # OOV fired

    def test_self_scoring_never_backs_off(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 3, 4, 5]), (2, [2, 3, 2, 3, 2])],
            "doc_id long, tokens array<int>",
        )
        rows = text.trigram_backoff_logloss(df).collect()
        for r in rows:
            assert (r["n_backoff_bigram"], r["n_backoff_unigram"],
                    r["n_oov"]) == (0, 0, 0)
            assert r["bits_per_trigram"] is not None
            assert r["bits_per_trigram"] >= 0.0

    def test_duplicate_ids_merge_like_bigram_logloss(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2, 3]), (1, [1, 2, 3])],
            "doc_id long, tokens array<int>",
        )
        rows = text.trigram_backoff_logloss(df).collect()
        assert len(rows) == 1
        assert rows[0]["n_trigrams"] == 2


class TestSurprisalProfile:
    """Pins for the session-9 surprisal-shape operator
    (text.unigram_surprisal_profile): mirror-match against exact Python
    moments, mean==unigram_logloss identity, the boilerplate+garbage
    signature, and OOV/empty degradations."""

    def test_matches_python_moments_and_logloss_mean(self, spark):
        import math
        from collections import Counter

        docs = {1: [1, 1, 1, 1, 2], 2: [1, 2, 3, 4], 3: [], 4: None,
                5: [9]}
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, tokens array<int>"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_oov"], r["bits_mean"],
                          r["bits_std"], r["bits_max"])
            for r in text.unigram_surprisal_profile(df).collect()
        }
        ll = {
            r["doc_id"]: r["bits_per_token"]
            for r in text.unigram_logloss(df).collect()
        }
        c = Counter(t for d in docs.values() if d for t in d)
        T = sum(c.values())
        S = 1 << 20
        lp = {
            t: math.floor((math.log2(n) - math.log2(T)) * S)
            for t, n in c.items()
        }
        for doc_id, d in docs.items():
            if not d:
                assert got[doc_id][2:] == (None, None, None)
                continue
            vals = [lp[t] for t in d if t in lp]
            k, s = len(vals), sum(vals)
            ss = sum(v * v for v in vals)
            mean = round((-s / S) / k, 4)
            var = max(ss / k - (s / k) * (s / k), 0.0)
            want = (len(d), len(d) - k, mean,
                    round(math.sqrt(var) / S, 4),
                    round(-min(vals) / S, 4))
            assert got[doc_id] == want, doc_id
            assert got[doc_id][2] == ll[doc_id], doc_id

    def test_flags_boilerplate_stitched_to_garbage(self, spark):
        # doc 10: uniform mid-probability tokens; doc 11: same MEAN
        # surprisal but half very-common + half very-rare tokens
        corpus = (
            [(100 + i, [1] * 64) for i in range(8)]       # token 1 common
            + [(200, [2] * 8), (201, [3] * 8)]            # mid tokens
            + [(300 + i, [40 + i]) for i in range(8)]     # rare singletons
        )
        df = spark.createDataFrame(
            corpus + [(10, [2, 3] * 8), (11, [1, 40, 1, 41, 1, 42])],
            "doc_id long, tokens array<int>",
        )
        got = {
            r["doc_id"]: r
            for r in text.unigram_surprisal_profile(df).collect()
        }
        assert got[11]["bits_std"] > got[10]["bits_std"] * 2
        assert got[11]["bits_max"] > got[10]["bits_max"]

    def test_oov_skipped_and_counted(self, spark):
        model_src = spark.createDataFrame(
            [(1, [1, 1, 2])], "doc_id long, tokens array<int>"
        )
        df = spark.createDataFrame(
            [(7, [1, 99, 2, None])], "doc_id long, tokens array<int>"
        )
        m = text.unigram_model(model_src)
        r = text.unigram_surprisal_profile(df, model=m).collect()[0]
        # null element dropped from n_tokens; 99 is OOV
        assert (r["n_tokens"], r["n_oov"]) == (3, 1)
        assert r["bits_mean"] is not None

    def test_empty_model_all_oov(self, spark):
        df = spark.createDataFrame(
            [(1, [1, 2])], "doc_id long, tokens array<int>"
        )
        empty = text.unigram_model(
            spark.createDataFrame([], "doc_id long, tokens array<int>")
        )
        r = text.unigram_surprisal_profile(df, model=empty).collect()[0]
        assert (r["n_tokens"], r["n_oov"]) == (2, 2)
        assert r["bits_mean"] is None and r["bits_std"] is None


class TestSurprisalSpans:
    """Pins for the session-9 garbage-locator
    (text.surprisal_spans): run detection semantics (maximal islands,
    trailing close, OOV bridging vs splitting), the span-convention
    compatibility with scrub_token_spans, and guards."""

    def _model(self, spark):
        # token 1 very common (low bits); 6..9 rare (high bits)
        ref = spark.createDataFrame(
            [(100, [1] * 64 + [7, 8, 9, 6])],
            "doc_id long, tokens array<int>",
        )
        return text.unigram_model(ref)

    def test_islands_ooc_bridge_and_trailing_close(self, spark):
        m = self._model(spark)
        df = spark.createDataFrame(
            [
                (1, [1, 1, 7, 8, 9, 1, 1]),   # interior run [2, 5)
                (2, [7, 8, 99, 9, 1]),        # OOV 99 bridges -> [0, 4)
                (3, [1] * 6),                 # nothing flagged
                (4, None), (5, []),           # degenerate docs
                (9, [1, 7, 8, 9]),            # trailing run [1, 4)
            ],
            "doc_id long, tokens array<int>",
        )
        got = {
            (r["doc_id"], r["span_start"], r["span_end"]):
                (r["span_len"], r["n_scored"], r["mean_bits"])
            for r in text.surprisal_spans(
                df, model=m, min_bits=4.0, min_len=3
            ).collect()
        }
        assert set(got) == {(1, 2, 5), (2, 0, 4), (9, 1, 4)}
        assert got[(1, 2, 5)][0] == 3
        # OOV token inside the span is unscored but extends it
        assert got[(2, 0, 4)] == (4, 3, got[(1, 2, 5)][2])

    def test_oov_splits_runs_when_not_high(self, spark):
        m = self._model(spark)
        df = spark.createDataFrame(
            [(2, [7, 8, 99, 9, 1])], "doc_id long, tokens array<int>"
        )
        rows = text.surprisal_spans(
            df, model=m, min_bits=4.0, min_len=2, oov_high=False
        ).collect()
        # 99 splits: [0,2) survives min_len, the lone 9 does not
        assert [(r["span_start"], r["span_end"]) for r in rows] == [(0, 2)]

    def test_spans_feed_scrub_token_spans(self, spark):
        from datatest_spark.operators.dedup import scrub_token_spans

        m = self._model(spark)
        df = spark.createDataFrame(
            [(1, [1, 1, 7, 8, 9, 1, 1]), (3, [1] * 6)],
            "doc_id long, tokens array<int>",
        )
        spans = text.surprisal_spans(df, model=m, min_bits=4.0, min_len=3)
        out = {
            r["doc_id"]: (r["tokens"], r["n_removed"])
            for r in scrub_token_spans(df, spans).collect()
        }
        assert out[1] == ([1, 1, 1, 1], 3)   # [2,5) cut
        assert out[3] == ([1] * 6, 0)        # untouched passthrough

    def test_min_len_guard(self, spark):
        df = spark.createDataFrame(
            [(1, [1])], "doc_id long, tokens array<int>"
        )
        try:
            text.surprisal_spans(df, min_len=0)
            assert False
        except ValueError:
            pass

    def test_all_flagged_doc_is_one_span(self, spark):
        m = self._model(spark)
        df = spark.createDataFrame(
            [(8, [7, 8, 9, 6])], "doc_id long, tokens array<int>"
        )
        rows = text.surprisal_spans(
            df, model=m, min_bits=4.0, min_len=2
        ).collect()
        assert [(r["span_start"], r["span_end"], r["span_len"])
                for r in rows] == [(0, 4, 4)]


class TestSession10Ops:
    """Pins for the session-10 overflow-window operators (token
    burstiness, lexical type inference): each is value-oracled in the
    tools/check_oracles.py mirror sweep; these pins lock the semantics
    on hand-built fixtures."""

    # --- burstiness --------------------------------------------------

    def test_burstiness_hand_values(self, spark):
        from datatest_spark.operators import text as t

        docs = [
            (1, ["x"] * 4 + ["y"] + ["z"]),
            (2, ["x"] * 4 + ["y"] + ["z"] * 7),
            (3, ["y"]),
            (4, ["y"]),
            (5, ["y"]),
        ]
        df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
        got = {
            r["token"]: r
            for r in t.token_burstiness(
                df, "toks", "doc_id", min_df=2, top_n=10
            ).collect()
        }
        # x: counts [4,4] -> mean 4, vmr 0
        assert (got["x"]["df"], got["x"]["cf"]) == (2, 8)
        assert got["x"]["burstiness"] == 4.0 and got["x"]["vmr"] == 0.0
        # y: once in 5 docs -> flat
        assert got["y"]["burstiness"] == 1.0 and got["y"]["vmr"] == 0.0
        # z: counts [1,7] -> mean 4, var ((1+49)/2 - 16) = 9, vmr 2.25
        assert (got["z"]["df"], got["z"]["cf"], got["z"]["sumsq"]) == (
            2, 8, 50,
        )
        assert got["z"]["burstiness"] == 4.0 and got["z"]["vmr"] == 2.25
        # ordering: x and z tie at 4.0 -> token asc breaks the tie
        ordered = t.token_burstiness(
            df, "toks", "doc_id", min_df=2, top_n=2
        ).collect()
        assert [r["token"] for r in ordered] == ["x", "z"]

    def test_burstiness_min_df_and_guard(self, spark):
        from datatest_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, ["a", "b"]), (2, ["a"])], "doc_id long, toks array<string>"
        )
        toks = {
            r["token"]
            for r in t.token_burstiness(df, "toks", "doc_id", min_df=2).collect()
        }
        assert toks == {"a"}
        with pytest.raises(ValueError):
            t.token_burstiness(df, "toks", "doc_id", min_df=0)

    # --- lexical type inference --------------------------------------

    def test_lexical_types_inference(self, spark):
        from datatest_spark.operators.stats import lexical_type_profile

        rows = [
            ("1", "1.5", "2024-01-02", '{"a": 1}', "true", None),
            ("-42", "2", "2024-12-31", "[1, 2]", "NO", "  "),
            ("007", "-.5", "1999-06-07", '{"b": []}', "f", None),
            (None, "1e-3", "2024-01-02", "{}", "False", ""),
        ]
        df = spark.createDataFrame(
            rows, "a string, b string, c string, d string, e string, f string"
        )
        got = {
            r["column"]: r
            for r in lexical_type_profile(
                df, ["a", "b", "c", "d", "e", "f"]
            ).collect()
        }
        assert got["a"]["inferred_type"] == "int"
        assert (got["a"]["n"], got["a"]["n_null"], got["a"]["n_int"]) == (
            4, 1, 3,
        )
        assert got["b"]["inferred_type"] == "num"
        assert got["b"]["n_int"] == 1      # "2" is int-like too
        assert got["c"]["inferred_type"] == "date"
        assert got["d"]["inferred_type"] == "json"
        assert got["e"]["inferred_type"] == "bool"
        # f: only nulls and whitespace -> 'empty'
        assert got["f"]["inferred_type"] == "empty"
        assert (got["f"]["n_null"], got["f"]["n_empty"]) == (2, 2)

    def test_lexical_types_mixed_falls_back_to_string(self, spark):
        from datatest_spark.operators.stats import lexical_type_profile

        df = spark.createDataFrame(
            [("1",), ("x",)], "a string"
        )
        row = lexical_type_profile(df, ["a"]).collect()[0]
        assert row["inferred_type"] == "string"
        with pytest.raises(ValueError):
            lexical_type_profile(df, [])

    def test_lexical_types_casts_native_types(self, spark):
        """Non-string columns classify via their engine string form —
        ints are int-like, doubles num-like (never int-like), timestamps
        timestamp-like — the property that makes the audit robust to
        E-notation differences between engines."""
        from datatest_spark.operators.stats import lexical_type_profile

        df = spark.createDataFrame(
            [(1, 2.5, "2024-01-02 03:04:05")],
            "i long, d double, s string",
        ).withColumn("ts", F.col("s").cast("timestamp"))
        got = {
            r["column"]: r["inferred_type"]
            for r in lexical_type_profile(df, ["i", "d", "ts"]).collect()
        }
        assert got == {"i": "int", "d": "num", "ts": "timestamp"}


class TestSession10OpsB:
    """Pins for the second session-10 batch: split-balance audit,
    data-constrained epoch mixture plan and duplicate label-conflict
    audit."""

    def test_split_balance_shares_and_z(self, spark):
        from datatest_spark.operators import packing

        df = spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        )
        rows = packing.split_balance_audit(
            df, {"train": 0.75, "val": 0.125, "test": 0.125}, hash_fn="md5"
        ).collect()
        got = {r["split"]: r for r in rows}
        assert set(got) == {"train", "val", "test"}
        assert sum(r["n_split"] for r in rows) == 2000
        assert all(r["n_total"] == 2000 for r in rows)
        assert got["train"]["expected_share"] == 0.75
        # z matches the manual binomial formula
        import math

        for name, p in [("train", 0.75), ("val", 0.125), ("test", 0.125)]:
            n = got[name]["n_split"]
            want = (n - 2000 * p) / math.sqrt(2000 * p * (1 - p))
            assert abs(got[name]["z"] - round(want, 4)) < 1e-9
            # a uniform hash keeps |z| small on 2000 rows
            assert abs(got[name]["z"]) < 4.0, (name, got[name]["z"])

    def test_split_balance_grouped(self, spark):
        from datatest_spark.operators import packing

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 2)) for i in range(400)],
            "doc_id long, src string",
        )
        rows = packing.split_balance_audit(
            df, {"a": 0.5, "b": 0.5}, hash_fn="md5", group_col="src"
        ).collect()
        per_group = {}
        for r in rows:
            per_group.setdefault(r["group"], 0)
            per_group[r["group"]] += r["n_split"]
            assert r["n_total"] == 200
        assert per_group == {"s0": 200, "s1": 200}

    def test_epoch_mixture_hand_values(self, spark):
        from datatest_spark.operators import packing

        rows = [("A", 10)] * 10 + [("B", 10)] * 10 + [("C", 10)] * 10
        df = spark.createDataFrame(rows, "source string, n_tok int")
        got = {
            r["source"]: r
            for r in packing.epoch_mixture_plan(
                df, {"A": 450, "B": 150}, max_epochs=3.0
            ).collect()
        }
        a = got["A"]  # avail 100, target 450 -> rate 4.5, capped at 3
        assert a["rate"] == 4.5 and a["capped"]
        assert (a["epochs_full"], a["frac_rate"]) == (3, 0.0)
        assert (a["planned_tokens"], a["unique_tokens"]) == (300.0, 100.0)
        assert (a["repeated_tokens"], a["shortfall_tokens"]) == (200.0, 150.0)
        b = got["B"]  # rate 1.5 -> 1 epoch + 0.5
        assert not b["capped"]
        assert (b["epochs_full"], b["frac_rate"]) == (1, 0.5)
        assert (b["planned_tokens"], b["repeated_tokens"]) == (150.0, 50.0)
        assert b["shortfall_tokens"] == 0.0
        c = got["C"]  # no target -> rate 0, nothing planned
        assert c["rate"] == 0.0 and c["planned_tokens"] == 0.0
        with pytest.raises(ValueError):
            packing.epoch_mixture_plan(df, {"A": 1}, max_epochs=0)

    def test_dup_label_conflict_semantics(self, spark):
        from datatest_spark.operators import dedup

        docs = spark.createDataFrame(
            [
                (1, "same"), (2, "same"), (3, "same"),      # conflict
                (4, "agree"), (5, "agree"),                  # consistent
                (6, "solo"),                                 # singleton
                (7, "partial"), (8, "partial"),              # one unlabeled
            ],
            "doc_id long, text string",
        )
        labels = spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x"), (4, "z"), (5, "z"),
             (6, "q"), (7, "x")],
            "doc_id long, label string",
        )
        rows = dedup.dup_label_conflict(docs, labels).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["n_members"], r["n_labeled"], r["n_labels"]) == (3, 3, 2)
        assert (r["label_min"], r["label_max"]) == ("x", "y")


class TestSession10OpsC:
    """Pins for the third session-10 batch: Cohen's kappa, Chao1
    richness and effective-sample-size audit."""

    def test_kappa_perfect_and_chance(self, spark):
        from datatest_spark.operators.stats import cohen_kappa

        perfect = spark.createDataFrame(
            [("x", "x"), ("y", "y"), ("x", "x"), ("z", "z")],
            "a string, b string",
        )
        r = cohen_kappa(perfect, "a", "b").collect()[0]
        assert r["po"] == 1.0 and r["kappa"] == 1.0
        # independent marginals at 50/50: po == pe == 0.5 -> kappa 0
        chance = spark.createDataFrame(
            [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")],
            "a string, b string",
        )
        r = cohen_kappa(chance, "a", "b").collect()[0]
        assert (r["po"], r["pe"], r["kappa"]) == (0.5, 0.5, 0.0)

    def test_kappa_constant_rater_null_and_nulls_are_categories(self, spark):
        from datatest_spark.operators.stats import cohen_kappa

        const = spark.createDataFrame(
            [("x", "x"), ("x", "x")], "a string, b string"
        )
        assert cohen_kappa(const, "a", "b").collect()[0]["kappa"] is None
        withnull = spark.createDataFrame(
            [("x", None), (None, None), ("x", "x")], "a string, b string"
        )
        r = cohen_kappa(withnull, "a", "b").collect()[0]
        # agreement rows: (null,null) and (x,x) -> po = 2/3
        assert r["n"] == 3 and r["po"] == round(2 / 3, 6)

    def test_kappa_grouped(self, spark):
        from datatest_spark.operators.stats import cohen_kappa

        df = spark.createDataFrame(
            [("g1", "x", "x"), ("g1", "y", "y"), ("g2", "x", "y"),
             ("g2", "y", "x")],
            "g string, a string, b string",
        )
        got = {
            r["group"]: r["po"]
            for r in cohen_kappa(df, "a", "b", group_col="g").collect()
        }
        assert got == {"g1": 1.0, "g2": 0.0}

    def test_chao1_hand_spectrum(self, spark):
        from datatest_spark.operators.text import chao1_richness

        # tokens: a x3, b x2, c x1, d x1 -> V=4 N=7 f1=2 f2=1
        df = spark.createDataFrame(
            [("s", ["a", "a", "b", "c"]), ("s", ["a", "b", "d"])],
            "source string, toks array<string>",
        )
        r = chao1_richness(df, "toks", "source").collect()[0]
        assert (r["vocab"], r["total_tokens"], r["f1"], r["f2"]) == (
            4, 7, 2, 1,
        )
        # chao1 = 4 + 2*1/(2*2) = 4.5; coverage = 1 - 2/7
        assert r["chao1"] == 4.5
        assert r["coverage"] == round(1 - 2 / 7, 6)

    def test_ess_equal_vs_collapsed(self, spark):
        from datatest_spark.operators.packing import ess_audit

        equal = spark.createDataFrame(
            [("s", 5.0)] * 8, "source string, w double"
        )
        r = ess_audit(equal, "w", "source").collect()[0]
        assert (r["n"], r["ess"], r["ess_ratio"]) == (8, 8.0, 1.0)
        skew = spark.createDataFrame(
            [("s", 1000.0)] + [("s", 0.001)] * 99,
            "source string, w double",
        )
        r = ess_audit(skew, "w", "source").collect()[0]
        assert r["n"] == 100 and r["ess"] < 1.5  # weight collapse visible
        neg = spark.createDataFrame(
            [("s", 2.0), ("s", -1.0)], "source string, w double"
        )
        r = ess_audit(neg, "w", "source").collect()[0]
        assert (r["n"], r["n_negative"]) == (1, 1)
        with pytest.raises(ValueError):
            ess_audit(neg, "w", "source", scale_bits=0)


class TestSession10ReviewFixes:
    """Pins for the session-10 self-review hardening items."""

    def test_lexical_profile_rejects_duplicate_columns(self, spark):
        from datatest_spark.operators.stats import lexical_type_profile

        df = spark.createDataFrame([("1",)], "a string")
        with pytest.raises(ValueError, match="duplicate"):
            lexical_type_profile(df, ["a", "a"])


class TestSession10OpsD:
    """Pins for the fourth session-10 batch: FD discovery and rare-
    category consolidation."""

    def test_fd_discovery_hand_values(self, spark):
        from datatest_spark.operators.stats import fd_discovery

        df = spark.createDataFrame(
            [
                ("k1", "x"), ("k1", "x"), ("k1", "y"),
                ("k2", "z"), ("k2", "z"),
                ("k3", None),
            ],
            "a string, b string",
        )
        got = {r["fd"]: r for r in fd_discovery(df, ["a", "b"]).collect()}
        ab = got["a->b"]
        # majority per det: k1 keeps 2 of 3, k2 keeps 2, k3 keeps 1
        assert (ab["n_rows"], ab["n_det"], ab["n_kept"]) == (6, 3, 5)
        assert ab["g3"] == round(1 - 5 / 6, 6) and not ab["holds"]
        ba = got["b->a"]
        # b values x,y,z,null each map to ONE a -> the FD holds exactly
        assert (ba["n_kept"], ba["g3"], ba["holds"]) == (6, 0.0, True)
        with pytest.raises(ValueError):
            fd_discovery(df, ["a"])
        with pytest.raises(ValueError):
            fd_discovery(df, ["a", "a"])
        with pytest.raises(ValueError):
            fd_discovery(df, ["a", "b"], min_support=0)

    def test_fd_discovery_null_dep_violates(self, spark):
        from datatest_spark.operators.stats import fd_discovery

        df = spark.createDataFrame(
            [("k", "x"), ("k", None)], "a string, b string"
        )
        ab = {r["fd"]: r for r in fd_discovery(df, ["a", "b"]).collect()}[
            "a->b"
        ]
        # null is a dependent VALUE: k maps to {x, null} -> 1 violation
        assert ab["n_kept"] == 1 and ab["g3"] == 0.5

    def test_consolidate_rare_semantics(self, spark):
        from datatest_spark.operators.stats import consolidate_rare

        rows = [("a",)] * 5 + [("b",)] * 2 + [("c",)] * 1 + [(None,)] * 3
        df = spark.createDataFrame(rows, "v string")
        got = {
            r["v"]: r["n"]
            for r in consolidate_rare(df, "v", 3)
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        # a kept, b+c -> __other__, nulls stay null
        assert got == {"a": 5, "__other__": 3, None: 3}
        with pytest.raises(ValueError):
            consolidate_rare(df, "v", 0)

    def test_consolidate_rare_keeps_other_columns(self, spark):
        from datatest_spark.operators.stats import consolidate_rare

        df = spark.createDataFrame(
            [(1, "x"), (2, "x"), (3, "y")], "id long, v string"
        )
        out = consolidate_rare(df, "v", 2)
        assert set(out.columns) == {"id", "v"}
        got = {r["id"]: r["v"] for r in out.collect()}
        assert got == {1: "x", 2: "x", 3: "__other__"}

    def test_consolidate_rare_rejects_helper_column_clash(self, spark):
        from datatest_spark.operators.stats import consolidate_rare

        df = spark.createDataFrame([("x", 1)], "v string, _keep int")
        with pytest.raises(ValueError, match="_keep"):
            consolidate_rare(df, "v", 1)

    def test_consolidate_rare_no_corpus_shuffle(self, spark, docs):
        from datatest_spark.operators.stats import consolidate_rare

        import io, contextlib, re

        w = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            consolidate_rare(w, "word", 100).explain(mode="formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestPartitionFingerprint:
    """Pins for checks.partition_fingerprint / fingerprint_diff."""

    def test_order_and_layout_invariance(self, spark):
        from datatest_spark.operators import checks as ck

        rows = [(i, "t%d" % i, "s%d" % (i % 2)) for i in range(50)]
        a = spark.createDataFrame(rows, "id long, t string, source string")
        b = spark.createDataFrame(
            list(reversed(rows)), "id long, t string, source string"
        ).repartition(7)
        fa = {r["partition_key"]: r for r in ck.partition_fingerprint(a).collect()}
        fb = {r["partition_key"]: r for r in ck.partition_fingerprint(b).collect()}
        assert fa.keys() == fb.keys()
        for k in fa:
            assert fa[k]["content_sum"] == fb[k]["content_sum"], k
            assert fa[k]["n_rows"] == fb[k]["n_rows"]

    def test_single_row_edit_flips_fingerprint(self, spark):
        from datatest_spark.operators import checks as ck

        rows = [(i, "t%d" % i, "s") for i in range(20)]
        a = spark.createDataFrame(rows, "id long, t string, source string")
        edited = [(i, "t%d" % i if i != 7 else "EDITED", "s") for i in range(20)]
        b = spark.createDataFrame(edited, "id long, t string, source string")
        ca = ck.partition_fingerprint(a).collect()[0]["content_sum"]
        cb = ck.partition_fingerprint(b).collect()[0]["content_sum"]
        assert ca != cb

    def test_null_spelling_cannot_collide(self, spark):
        from datatest_spark.operators import checks as ck

        a = spark.createDataFrame(
            [(None, "x", "s")], "id string, t string, source string"
        )
        b = spark.createDataFrame(
            [("\x00null\x00", "x", "s")],
            "id string, t string, source string",
        )
        ca = ck.partition_fingerprint(a).collect()[0]["content_sum"]
        cb = ck.partition_fingerprint(b).collect()[0]["content_sum"]
        # the null marker IS the spelling — same draw by design; the
        # contract is that ("a", None) never collides with ("a,None")
        assert ca == cb
        c = spark.createDataFrame(
            [("a", None, "s")], "id string, t string, source string"
        )
        d = spark.createDataFrame(
            [("a\x1f", "", "s")], "id string, t string, source string"
        )
        cc = ck.partition_fingerprint(c).collect()[0]["content_sum"]
        cd = ck.partition_fingerprint(d).collect()[0]["content_sum"]
        assert cc != cd

    def test_diff_statuses(self, spark):
        from datatest_spark.operators import checks as ck

        old_rows = [(i, "t", "keep") for i in range(5)] + [
            (i, "t", "gone") for i in range(3)
        ] + [(i, "t", "edit") for i in range(4)]
        new_rows = [(i, "t", "keep") for i in range(5)] + [
            (i, "t", "edit") for i in range(5)
        ] + [(i, "t", "fresh") for i in range(2)]
        old = ck.partition_fingerprint(
            spark.createDataFrame(old_rows, "id long, t string, source string")
        )
        new = ck.partition_fingerprint(
            spark.createDataFrame(new_rows, "id long, t string, source string")
        )
        got = {
            r["partition_key"]: r["status"]
            for r in ck.fingerprint_diff(old, new).collect()
        }
        assert got == {
            "source=keep": "unchanged",
            "source=gone": "removed",
            "source=edit": "changed",
            "source=fresh": "added",
        }
        with pytest.raises(ValueError):
            ck.partition_fingerprint(
                spark.createDataFrame([("s",)], "source string"), ("source",)
            )


class TestCandidateKeys:
    """Pins for stats.candidate_keys."""

    def test_hand_ratios_and_key_flags(self, spark):
        from datatest_spark.operators.stats import candidate_keys

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (3, "b")],
            "id long, grp string",
        )
        got = {
            r["key_set"]: r
            for r in candidate_keys(df, ["id", "grp"]).collect()
        }
        assert set(got) == {"id", "grp", "id+grp"}
        assert (got["id"]["n_distinct"], got["id"]["is_key"]) == (3, False)
        assert got["id"]["uniqueness_ratio"] == 0.75
        assert got["grp"]["n_distinct"] == 2
        assert got["id+grp"]["n_distinct"] == 3 and not got["id+grp"]["is_key"]
        # every set sees all rows
        assert all(r["n_rows"] == 4 for r in got.values())
        uniq = spark.createDataFrame([(1,), (2,)], "id long")
        r = candidate_keys(uniq, ["id"]).collect()[0]
        assert r["is_key"] and r["uniqueness_ratio"] == 1.0

    def test_nulls_are_values_and_separator_safe(self, spark):
        from datatest_spark.operators.stats import candidate_keys

        df = spark.createDataFrame(
            [(None, "x"), (None, "x")], "a string, b string"
        )
        got = {
            r["key_set"]: r for r in candidate_keys(df, ["a", "b"]).collect()
        }
        # two null-keyed rows are DUPLICATES, not distinct unknowns
        assert got["a"]["n_distinct"] == 1 and not got["a"]["is_key"]
        assert got["a+b"]["n_distinct"] == 1
        with pytest.raises(ValueError):
            candidate_keys(df, [])
        with pytest.raises(ValueError):
            candidate_keys(df, ["a", "a"])
        with pytest.raises(ValueError):
            candidate_keys(df, ["a"], max_arity=3)

    def test_min_ratio_tolerance(self, spark):
        from datatest_spark.operators.stats import candidate_keys

        rows = [(i,) for i in range(999)] + [(0,)]
        df = spark.createDataFrame(rows, "id long")
        strict = candidate_keys(df, ["id"]).collect()[0]
        assert not strict["is_key"]
        loose = candidate_keys(df, ["id"], min_ratio=0.99).collect()[0]
        assert loose["is_key"]
