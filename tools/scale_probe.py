"""Empirical scaling probe: do the dedup/ANN pipelines scale linearly in
corpus size, or is something quadratic hiding behind small-SF timings?

Inflates the documents/embeddings tables KxN by unioning salted copies
(ids remapped, text perturbed so copies are near- but not exact dups), and
times the headline pipeline ops at K = 1, 2, 4. A healthy (shuffle-bound,
LSH-pruned) op grows ~K; candidate-pair blowup or a hidden cross-join
grows ~K².

Caveat for the NEAR-DUP ops: the inflation makes every copy a true
near-duplicate of its k-1 siblings, so the RESULT itself grows ~k²·N —
growth above linear is partly semantically-required output, not
necessarily wasted compute. Judge growth against the pair count the op
returns (exact_dedup_groups and the signature stages are the clean
linear-work yardsticks).

Usage: python tools/scale_probe.py [op ...]   (default: all)
Prints one JSON line per op: {"op": ..., "sec": {"1": s, "2": s, "4": s},
"growth_2x": r, "growth_4x": r}.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.1"
FACTORS = (1, 2, 4)


def inflate_docs(docs, k):
    from pyspark.sql import functions as F

    if k == 1:
        return docs
    copies = docs.crossJoin(
        docs.sparkSession.range(k).select(F.col("id").alias("_copy"))
    )
    return copies.select(
        (F.col("doc_id") * k + F.col("_copy")).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" variant"), F.col("_copy").cast("string")
        ).alias("text"),
    )


def inflate_emb(emb, k):
    from pyspark.sql import functions as F

    if k == 1:
        return emb
    copies = emb.crossJoin(
        emb.sparkSession.range(k).select(F.col("id").alias("_copy"))
    )
    # perturb one dimension so copies are near-identical, not identical
    return copies.select(
        (F.col("vec_id") * k + F.col("_copy")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.col("_copy") * 0.001).otherwise(x),
        ).alias("embedding"),
    )


def inflate_events_hot(ev, k, hot_share=0.5):
    """K× the events table with SKEW: `hot_share` of the added copies
    funnel onto ONE user and ONE event type — the hot-key shape that
    turns a keyed shuffle/window into a straggler task at scale."""
    from pyspark.sql import functions as F

    if k == 1:
        return ev
    copies = ev.crossJoin(
        ev.sparkSession.range(k).select(F.col("id").alias("_copy"))
    )
    hot = (F.col("_copy") > 0) & (
        F.pmod(F.xxhash64("event_id", "_copy"), F.lit(100))
        < int(hot_share * 100)
    )
    return copies.select(
        (F.col("event_id") * k + F.col("_copy")).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("_copy"))).alias("ts"),
        F.when(hot, F.lit(999_999_999)).otherwise(
            F.col("user_id") * k + F.col("_copy")
        ).alias("user_id"),
        F.when(hot, F.lit("hot_type")).otherwise(F.col("event_type")).alias(
            "event_type"
        ),
        "value",
        "props",
    )


def inflate_docs_hot_token(docs, k):
    """K× documents with a hot BIGRAM: every added copy appends the same
    two-token tail, so one (w1, w2) key concentrates ~k·N occurrences —
    the skew axis for pmi's count shuffle."""
    from pyspark.sql import functions as F

    if k == 1:
        return docs
    copies = docs.crossJoin(
        docs.sparkSession.range(k).select(F.col("id").alias("_copy"))
    )
    return copies.select(
        (F.col("doc_id") * k + F.col("_copy")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" hottoken hotpair")).alias("text"),
    )


def inflate_items_hot_basket(li, k, hot_parts=512):
    """Distinct (order, part) items K× by remapping order keys (linear in
    baskets), PLUS one hot basket holding `hot_parts`·k distinct parts —
    the within-basket self-join's quadratic axis. Output pairs grow
    ~(hot_parts·k)² by SEMANTICS; the probe checks runtime tracks that
    output rather than exceeding it."""
    from pyspark.sql import functions as F

    base = (
        li.filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    if k == 1:
        return base
    copies = base.crossJoin(
        li.sparkSession.range(k).select(F.col("id").alias("_copy"))
    ).select(
        (F.col("l_orderkey") * k + F.col("_copy")).alias("l_orderkey"),
        "l_partkey",
    )
    hot = li.sparkSession.range(hot_parts * k).select(
        F.lit(-1).alias("l_orderkey"), (F.col("id") * 5).alias("l_partkey")
    )
    return copies.unionByName(hot)


def _featurize_frozen(d):
    """The deployed featurizer path end to end: freeze (token -> df, N)
    on the corpus, then score the SAME corpus under the frozen state —
    one tf shuffle + one df join (size-guarded broadcast hint); since
    r13 featurize_with returns raw (id, bucket, w) and the L1
    normalization rides doc_feature_frame's fused groupBy(id)."""
    from dsci551_edfs_spark.pipeline.dedup import _persist
    from dsci551_edfs_spark.streaming.quality_gate import (
        featurize_with,
        frozen_featurizer,
    )

    dfr, n = frozen_featurizer(d)
    return featurize_with(d, _persist(dfr), n)


def _giant_doc(spark):
    """One 1M-token document with a fully DISTINCT vocabulary — the
    single-hot-id axis for the (id, token) aggregate, and a df-table
    vocabulary explosion (1M singleton tokens)."""
    from pyspark.sql import functions as F

    return spark.range(1).select(
        F.lit(-999).cast("long").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(1_000_000)),
                lambda i: F.concat(F.lit("g"), i.cast("string")),
            ),
            " ",
        ).alias("text"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from dsci551_edfs_spark import get_spark
    from dsci551_edfs_spark.functions import text as TXT
    from dsci551_edfs_spark.pipeline import curation as CUR
    from dsci551_edfs_spark.pipeline import decontam as DC
    from dsci551_edfs_spark.pipeline import dedup as DD
    from dsci551_edfs_spark.pipeline import heuristics as HEU
    from dsci551_edfs_spark.pipeline import lm as LM
    from dsci551_edfs_spark.pipeline import pca as PCA
    from dsci551_edfs_spark.pipeline import retrieval as RET
    from dsci551_edfs_spark.pipeline import similarity as SIM
    from dsci551_edfs_spark.operators import graph as GR
    from dsci551_edfs_spark.pipeline import unigram_lm as ULM
    from dsci551_edfs_spark.operators import temporal as TMPO
    from dsci551_edfs_spark.pipeline.curation import md5_bucket
    from dsci551_edfs_spark.sources.registry import load_table

    def F_mod5(v):
        return (F.col("doc_id") % 5) == v

    def _distributed(kernel, *args, **kwargs):
        """Run a graph fixpoint kernel on its distributed loop: a cap
        below every edge count skips the driver path."""
        cap, GR.COLLECT_CAP = GR.COLLECT_CAP, -1
        try:
            return kernel(*args, **kwargs)
        finally:
            GR.COLLECT_CAP = cap

    from pyspark.sql import Window

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents").cache()
    emb = load_table(spark, SF_DIR, "embeddings").cache()
    ev = load_table(spark, SF_DIR, "events").cache()
    li = load_table(spark, SF_DIR, "lineitem").cache()
    bench_docs = docs.filter(md5_bucket("doc_id", 100) < 5).cache()
    docs.count(), emb.count(), ev.count(), li.count(), bench_docs.count()

    def _trending(events):
        win = F.window("ts", "6 hours").getField("start").alias("win")
        cnt = events.groupBy(win, "event_type").agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("win").orderBy(F.col("cnt").desc(), "event_type")
        return cnt.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= 3
        )

    def _bucket_by_user(events):
        import tempfile

        from dsci551_edfs_spark.sources.bucketing import write_bucketed

        scratch = "/root/repo/.scratch"
        import os as _os

        _os.makedirs(scratch, exist_ok=True)
        write_bucketed(
            events.select("user_id", "event_id", "ts"),
            "probe_events_by_user",
            "user_id",
            32,
            tempfile.mkdtemp(prefix="probe_bucket_", dir=scratch),
        )

    def _attribution(events):
        # attribution_last_click core (queries.py): one user-keyed
        # ordered window, last(click, ignorenulls)
        ev2 = events.select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("ts_s"),
        )
        uw = (
            Window.partitionBy("user_id")
            .orderBy("ts_s", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        is_click = F.col("event_type") == "click"
        w = ev2.select(
            "event_id",
            "event_type",
            "ts_s",
            F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
            .over(uw)
            .alias("last_click_id"),
            F.last(F.when(is_click, F.col("ts_s")), ignorenulls=True)
            .over(uw)
            .alias("last_click_ts"),
        )
        return w.filter(F.col("event_type") == "purchase").select(
            "event_id",
            "last_click_id",
            (F.col("ts_s") - F.col("last_click_ts")).alias("gap_s"),
        )

    def _clamped_balance(events):
        # clamped_balance core: two stacked windows + reverse rank
        cents = F.round(F.col("value") * 100).cast("long")
        d = events.select(
            "user_id",
            F.col("ts").cast("long").alias("ts_s"),
            "event_id",
            F.when(F.col("event_type") == "purchase", cents)
            .when(F.col("event_type") == "click", -cents)
            .otherwise(F.lit(0).cast("long"))
            .alias("delta"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts_s", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wd = Window.partitionBy("user_id").orderBy(
            F.col("ts_s").desc(), F.col("event_id").desc()
        )
        c = (
            d.withColumn("s", F.sum("delta").over(w))
            .withColumn("mn", F.min("s").over(w))
            .withColumn("rn", F.row_number().over(wd))
        )
        z = F.lit(0).cast("long")
        return c.filter(F.col("rn") == 1).select(
            "user_id",
            (F.col("s") - F.least(z, F.col("mn"))).alias("clamped"),
        )

    def _sequence_pattern(events):
        # sequence_pattern_match core: sorted-struct symbol fold + regex
        sym = (
            F.when(F.col("event_type") == "signup", "s")
            .when(F.col("event_type") == "click", "c")
            .when(F.col("event_type") == "purchase", "p")
            .when(F.col("event_type") == "view", "v")
            .otherwise("x")
        )
        e2 = events.select(
            "user_id",
            F.struct(
                F.col("ts").cast("long").alias("t"),
                F.col("event_id").alias("i"),
                sym.alias("y"),
            ).alias("k"),
        )
        seq = e2.groupBy("user_id").agg(
            F.concat_ws(
                "",
                F.expr("transform(sort_array(collect_list(k)), x -> x.y)"),
            ).alias("s")
        )
        return seq.select(
            "user_id",
            F.size(F.expr("regexp_extract_all(s, 'sc*p', 0)")).alias("f"),
            F.size(F.expr("regexp_extract_all(s, 'pp', 0)")).alias("r"),
        )

    def _session_entry_exit(events):
        # session_entry_exit core: sessionize + struct min/max per session
        e2 = events.select(
            "user_id",
            "event_id",
            "event_type",
            F.col("ts").cast("long").alias("ts_s"),
        )
        sess = TMPO.sessionize(
            e2.withColumn("ts", F.col("ts_s")), gap_s=1800, ts_col="ts"
        )
        s = e2.join(sess.select("event_id", "session_no"), "event_id")
        key = F.struct(
            F.col("ts_s").alias("t"),
            F.col("event_id").alias("i"),
            F.col("event_type").alias("e"),
        )
        g = s.groupBy("user_id", "session_no").agg(
            F.min(key).alias("fe"),
            F.max(key).alias("le"),
            F.count("*").alias("n"),
        )
        return (
            g.select(
                F.col("fe.e").alias("entry_type"),
                F.col("le.e").alias("exit_type"),
                F.when(F.col("n") == 1, 1).otherwise(0).alias("bounce"),
            )
            .groupBy("entry_type", "exit_type")
            .agg(F.count("*").alias("n_sessions"), F.sum("bounce").alias("nb"))
        )

    def _interval_union(events):
        iv = events.filter(F.col("value") > 0).select(
            "user_id",
            F.col("ts").cast("long").alias("s"),
            (
                F.col("ts").cast("long")
                + F.round(F.col("value") * 60).cast("long")
            ).alias("e"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        m = iv.withColumn("prev_max", F.max("e").over(w))
        contrib = F.when(
            F.col("prev_max").isNull() | (F.col("e") > F.col("prev_max")),
            F.col("e")
            - F.greatest(F.col("s"), F.coalesce(F.col("prev_max"), F.col("s"))),
        )
        return m.groupBy("user_id").agg(
            F.sum(contrib).alias("covered"), F.count("*").alias("n")
        )

    def _sessionize(events):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return events.select(
            "user_id", "event_id", F.sum(new_sess).over(run).alias("session_no")
        )

    def _copurchase(items):
        a, b = items.alias("a"), items.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("part_a"),
                F.col("b.l_partkey").alias("part_b"),
            )
            .agg(F.count("*").alias("together"))
            .filter(F.col("together") >= 2)
        )

    def _entropy(corpus):
        ch = corpus.select(
            "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
        )
        cc = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
        h = F.log(F.sum("k").cast("double")) - F.sum(
            F.col("k") * F.log(F.col("k").cast("double"))
        ) / F.sum("k")
        return cc.groupBy("doc_id").agg(h.alias("h"))

    def _triangles(items):
        from dsci551_edfs_spark.operators.graph import triangle_count

        basket = items.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        edges = (
            basket.select(
                F.explode(
                    F.flatten(
                        F.expr(
                            "transform(ps, (x, i) -> transform("
                            "slice(ps, i + 2, size(ps) - i - 1), "
                            "y -> struct(x AS pa, y AS pb)))"
                        )
                    )
                ).alias("e")
            )
            .select("e.pa", "e.pb")
            .distinct()
        )
        return triangle_count(edges, "pa", "pb")

    def _communities(items):
        from dsci551_edfs_spark.operators.graph import label_propagation

        basket = items.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        edges = (
            basket.select(
                F.explode(
                    F.flatten(
                        F.expr(
                            "transform(ps, (x, i) -> transform("
                            "slice(ps, i + 2, size(ps) - i - 1), "
                            "y -> struct(x AS pa, y AS pb)))"
                        )
                    )
                ).alias("e")
            )
            .select("e.pa", "e.pb")
            .distinct()  # NO support filter (same edges as _triangles):
        )                # keeps the hot clique in the graph
        return label_propagation(edges, iterations=2, a_col="pa", b_col="pb")

    def _pmi(corpus):
        bg = LM._doc_bigrams(corpus, "text", "doc_id")
        pc = DD._persist(bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
        l_m = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
        r_m = pc.groupBy("w2").agg(F.sum("c12").alias("c2"))
        return (
            pc.join(l_m, "w1").join(r_m, "w2").filter(F.col("c12") >= 5)
        )

    def _corpus_prep(corpus):
        # mirrors queries.corpus_prep_pipeline minus the output orderBy
        # (probe measures pipeline compute, not the demo's presentation
        # sort); xxhash64 family — the hash swap is measured cost-neutral
        gated = TXT.corpus_gate(corpus, min_tokens=5)
        gmeta = DD._persist(
            gated.select(
                "doc_id", "quality_score", "lang_pred", "fp",
                F.length("text").alias("n_chars"),
            )
        )
        keep = gmeta.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id")
        ).select("doc_id")
        near_input = corpus.join(keep, "doc_id", "left_semi")
        near_pairs = DD.minhash_dedup_pairs(near_input, threshold=0.5)
        drop_ids = near_pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return (
            gmeta.join(keep, "doc_id", "left_semi")
            .join(drop_ids, "doc_id", "left_anti")
            .select("doc_id", "lang_pred", "quality_score", "n_chars")
        )

    import numpy as _np

    _dim_cache: dict[str, int] = {}

    def _emb_dim() -> int:
        if "d" not in _dim_cache:
            _dim_cache["d"] = emb.select(
                F.size("embedding").alias("d")
            ).first()["d"]
        return _dim_cache["d"]

    def _ivf_cents(c: int) -> "_np.ndarray":
        rng = _np.random.RandomState(42)
        cents = rng.standard_normal((c, _emb_dim()))
        return cents / _np.linalg.norm(cents, axis=1, keepdims=True)

    _ivf_probe_state: dict = {}

    def _ivf_probe_setup(k: int) -> None:
        bucketed, cents = SIM.build_ivf_index(
            inflate_emb(emb, k), centroids=_ivf_cents(16)
        )
        bucketed = DD._persist(bucketed)
        bucketed.count()
        _ivf_probe_state["b"], _ivf_probe_state["c"] = bucketed, cents

    ops = {
        "minhash_dedup_pairs": lambda k: DD.minhash_dedup_pairs(
            inflate_docs(docs, k), threshold=0.5
        ),
        "simhash_pairs": lambda k: DD.simhash_pairs(
            DD.simhash(inflate_docs(docs, k)), max_hamming=3
        ),
        "ngram_jaccard_pairs": lambda k: DD.ngram_jaccard_pairs(
            inflate_docs(docs, k), threshold=0.5
        ),
        "embedding_lsh_pairs": lambda k: DD.embedding_dup_pairs(
            inflate_emb(emb, k), threshold=0.95, use_lsh=True
        ),
        "exact_dedup_groups": lambda k: DD.exact_dedup_groups(inflate_docs(docs, k)),
        # the skew/DF guards in action: growth must stay bounded where the
        # uncapped exact op legitimately blows up (inflated corpora make
        # every copy a true near-dup, so OUTPUT itself grows ~k^2*N)
        "ngram_jaccard_pairs_maxdf": lambda k: DD.ngram_jaccard_pairs(
            inflate_docs(docs, k), threshold=0.5, max_df=16
        ),
        "simhash_pairs_capped": lambda k: DD.simhash_pairs(
            DD.simhash(inflate_docs(docs, k)), max_hamming=3, max_bucket_size=64
        ),
        # decontam: fixed benchmark set (5% of the base corpus), train side
        # inflated — overlap scan must grow ~linearly in train size
        "decontam_overlap": lambda k: DC.ngram_overlap_contamination(
            inflate_docs(docs, k), bench_docs, n=3
        ),
        # boilerplate: line-frequency dedup; newline-free corpus degrades
        # to whole-doc segments, still the same shuffle shape
        "boilerplate_removal": lambda k: CUR.remove_boilerplate_lines(
            inflate_docs(docs, k), min_docs=3
        ),
        # semantic dedup candidate volume is sum(|cluster|^2): FIXED
        # cluster count goes quadratic by construction; scaling clusters
        # with the corpus (the documented SemDeDup deployment rule)
        # restores ~linear growth
        "semantic_dedup_fixed_k": lambda k: DD.semantic_dedup(
            inflate_emb(emb, k), n_clusters=64, kmeans_iters=1, threshold=0.95
        ),
        "semantic_dedup_scaled_k": lambda k: DD.semantic_dedup(
            inflate_emb(emb, k),
            n_clusters=64 * k,
            kmeans_iters=1,
            threshold=0.95,
        ),
        # round-4 ops. bloom: shard = the inflated corpus' 20%-bucket,
        # index = the other 80% — both sides grow with k
        "incremental_dedup_bloom": lambda k: DD.incremental_exact_dedup_bloom(
            inflate_docs(docs, k).filter(F_mod5(0)),
            inflate_docs(docs, k).filter(~F_mod5(0)),
        ),
        # pq encode: one Arrow pass — the clean linear yardstick for the
        # vector side (codebooks train on the base sample each time)
        "pq_encode": lambda k: SIM.pq_encode(
            inflate_emb(emb, k),
            SIM.train_pq_codebooks(emb, 16, 64),
        ),
        "bigram_lm": lambda k: LM.bigram_lm(inflate_docs(docs, k)),
        "vocab_rank": lambda k: TXT.build_vocab(inflate_docs(docs, k), top_n=200),
        "gopher_flags": lambda k: HEU.gopher_quality_flags(inflate_docs(docs, k)),
        # round-5: hot-KEY skew probes for the analytics suite (mirror the
        # registered query bodies — queries.py trending_event_types /
        # sessionize_events / copurchase_lift / pmi_collocations — over
        # skew-inflated inputs)
        # round-5: exact-substring spans. Inflation makes every copy share
        # its full base text with k-1 siblings, so OUTPUT pairs grow
        # ~k^2*N/2 by semantics; the capped variant bounds candidate
        # volume the same way ngram_jaccard's max_df does
        "shared_span_pairs": lambda k: DD.shared_span_pairs(
            inflate_docs(docs, k), n=4, min_span=6
        ),
        "shared_span_pairs_capped": lambda k: DD.shared_span_pairs(
            inflate_docs(docs, k), n=4, min_span=6, max_occ=16
        ),
        "char_entropy": lambda k: _entropy(inflate_docs(docs, k)),
        # round-5: tf-idf cosine pairs. Base inflation makes every copy
        # share its full token set with siblings (OUTPUT grows ~k^2*N by
        # semantics, like shared_span_pairs); the hot-token variant checks
        # the scale-relative DF cap actually prunes a token whose df
        # explodes with k (cost must stay ~output-bound, not posting^2)
        "tfidf_pairs": lambda k: DD.tfidf_cosine_pairs(inflate_docs(docs, k)),
        "tfidf_pairs_hot_token": lambda k: DD.tfidf_cosine_pairs(
            inflate_docs_hot_token(docs, k)
        ),
        # round-5: degree-ordered triangle counting with one hot basket
        # growing as 128*k (a (128k)-clique): wedge work must track the
        # C(128k,3)-ish semantic output, not the naive deg^2 of the hub
        "triangles_hot_basket": lambda k: _triangles(
            inflate_items_hot_basket(li, k, hot_parts=128)
        ),
        # round-6: label propagation under the same hot-basket skew — the
        # (128·K)-clique makes one community whose every node has 128·K
        # neighbors; per round that's deg² messages through the hot
        # labels join and a node-KEYED argmax (the hot node's count
        # group is its own task, never a global window)
        "communities_hot_basket": lambda k: _communities(
            inflate_items_hot_basket(li, k, hot_parts=128)
        ),
        "trending_hot_type": lambda k: _trending(inflate_events_hot(ev, k)),
        "sessionize_hot_user": lambda k: _sessionize(inflate_events_hot(ev, k)),
        # round-6: the documented hot-user mitigation, measured. Setup
        # (untimed) writes the inflated events bucketed by user_id — the
        # offline layout cost paid once; the timed query then runs the
        # SAME sessionize over the bucketed scan with zero Exchange. The
        # delta vs sessionize_hot_user is the runtime shuffle of the hot
        # partition that bucketing removes (the residual straggler is
        # sort(hot-user rows), irreducible by semantics).
        "sessionize_hot_user_bucketed": (
            lambda k: _bucket_by_user(inflate_events_hot(ev, k)),
            lambda k: _sessionize(
                ev.sparkSession.table("probe_events_by_user")
            ),
        ),
        "copurchase_hot_basket": lambda k: _copurchase(
            inflate_items_hot_basket(li, k)
        ),
        "pmi_hot_bigram": lambda k: _pmi(inflate_docs_hot_token(docs, k)),
        # round-6 session 2: BM25 with a HOT query term — inflation
        # appends 'hottoken' to every copy, so one term's posting list
        # grows ~k·N while the others stay fixed. The term-filtered
        # shuffle must grow with MATCHES (linear), never with the corpus
        # times terms; ranking stays TakeOrdered top-k
        "bm25_hot_term": lambda k: RET.bm25_topk(
            inflate_docs_hot_token(docs, k), ["hottoken", "dup", "scan"], k=20
        ),
        # round-6 session 2: the PCA moment pass — ONE mapInPandas matmul
        # per partition, shuffle fixed at P·d(d+1)/2 rows. The clean
        # linear yardstick for the vector-moment side (like pq_encode)
        "gram_matrix": lambda k: PCA.gram_matrix(inflate_emb(emb, k)),
        # round-6 session 2: fuzzy linkage with K×-inflated BLOCKS —
        # every copy keeps its base first token, so each block grows K×
        # and candidate volume grows ~K² BY SEMANTICS (the variants
        # really are within edit distance of each other). The probe
        # checks runtime tracks that candidate volume, not worse; the
        # mitigation at 100 TB is finer blocking keys, not a faster join
        "fuzzy_hot_block": lambda k: (
            lambda names: (
                lambda b: b.alias("a")
                .join(b.alias("b"), "blk")
                .filter(F.col("a.p_name") < F.col("b.p_name"))
                .filter(
                    F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3
                )
                .select(F.col("a.p_name"), F.col("b.p_name"))
            )(
                names.select(
                    "p_name",
                    F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias(
                        "blk"
                    ),
                )
            )
        )(
            li.sparkSession.read.parquet(f"{SF_DIR}/part.parquet")
            .select("p_name")
            .distinct()
            .crossJoin(
                li.sparkSession.range(k).select(F.col("id").alias("_c"))
            )
            .select(
                F.when(
                    F.col("_c") == 0, F.col("p_name")
                ).otherwise(
                    F.concat(F.col("p_name"), F.lit(" v"), F.col("_c").cast("string"))
                ).alias("p_name")
            )
        ),
        # round-6 session 2: BFS frontier relaxation with the hot-basket
        # clique growing as (128·K)² edges — rounds stay at the (tiny)
        # eccentricity, so runtime must track the EDGE count, never
        # rounds × corpus. Run on the distributed loop: these edge sets
        # fit under the driver-path cap
        "bfs_hops_hot_clique": lambda k: (
            lambda edges: _distributed(
                GR.bfs_hops,
                edges,
                edges.agg(F.min("pa")).first()[0],
                a_col="pa",
                b_col="pb",
            )
        )(
            (lambda basket: basket.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> transform("
                        "slice(ps, i + 2, size(ps) - i - 1), "
                        "y -> struct(x AS pa, y AS pb))))"
                    )
                ).alias("e")
            ).select("e.pa", "e.pb").distinct())(
                inflate_items_hot_basket(li, k, hot_parts=128)
                .groupBy("l_orderkey")
                .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
            )
        ),
        # round-6 session 2: star components on a DEEP path (diameter
        # 4096·k): rounds grow O(log d) ⇒ runtime ~log(k) on top of the
        # linear edge pass — a per-hop label propagation would need
        # 4096·k sequential rounds. Distributed loop forced, as above
        "star_components_chain": lambda k: _distributed(
            GR.connected_components,
            ev.sparkSession.range(4096 * k - 1).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            ),
        ),
        # round-9 (r8-operator curves). corpus_gate: the fused one-scan
        # quality+lang+fingerprint projection — the clean linear yardstick
        # for the pipeline's gate stage (no joins, no shuffle)
        "corpus_gate_fused": lambda k: TXT.corpus_gate(
            inflate_docs(docs, k), min_tokens=5
        ),
        # full 8-stage pipeline. CAVEAT (same as every near-dup probe):
        # inflation makes all k copies true near-dups, so the MinHash
        # stage's OUTPUT pairs grow ~k²·N by semantics — judge the fused
        # gate + dedup scans against corpus_gate_fused / exact_dedup
        "corpus_prep_pipeline": lambda k: _corpus_prep(inflate_docs(docs, k)),
        # batch padding: both global ranks are two-phase bucketed prefix
        # sums (256 md5 ranges × length band) — must grow ~linearly,
        # never like a single-partition sort
        "batch_padding_report": lambda k: CUR.batch_padding_report(
            inflate_docs(docs, k)
        ),
        # IVF maintenance pair: REBUILDING the index over the K×-grown
        # corpus costs O(K·N); APPENDING the fixed 5% shard costs
        # O(|shard|) — flat at every K because assignment is a pure
        # per-row function of (vector, centroids). The pair of curves IS
        # the index-maintenance claim (r8's 1.46 s append vs 6.61 s
        # rebuild on the persisted layout, now as a growth law).
        "ivf_rebuild": lambda k: SIM.build_ivf_index(
            inflate_emb(emb, k), centroids=_ivf_cents(16)
        )[0],
        "ivf_append_fixed_shard": lambda k: SIM.append_to_ivf_index(
            spark.range(0)
            .select(
                F.col("id"),
                F.array(*[F.lit(0.0)] * _emb_dim()).alias("v"),
            )
            .withColumn("centroid", F.lit(0)),
            _ivf_cents(16),
            emb.filter(F.col("vec_id") % 20 == 0),
        ),
        # IVF probe growth: queries FIXED (the base table's %31==0 rows),
        # corpus K×. n_probe/C of the corpus is scanned per query, so the
        # probe grows ~(n_probe/C)·K — linear with a 4/16 slope, vs brute
        # force's full-constant K. The persisted-layout variant
        # additionally prunes directories (plan-pinned); this measures
        # the candidate-volume law itself.
        "knn_vote_ivf_probe": (
            lambda k: _ivf_probe_setup(k),
            lambda k: SIM.ivf_topk(
                _ivf_probe_state["b"],
                _ivf_probe_state["c"],
                emb.filter(F.col("vec_id") % 31 == 0),
                k=10,
                n_probe=4,
            ),
        ),
        # round-10 (r9-operator curves). containment shares ngram_jaccard's
        # inverted-index join, so it inherits the same quadratic hazard
        # (inflation makes all k copies true near-dups of each other —
        # OUTPUT pairs grow ~k²·N by semantics); the max_df-capped variant
        # is the documented 100 TB defense and must stay ~output-bound
        "containment_pairs": lambda k: DD.containment_dup_pairs(
            inflate_docs(docs, k), threshold=0.5
        ),
        "containment_pairs_maxdf": lambda k: DD.containment_dup_pairs(
            inflate_docs(docs, k), threshold=0.5, max_df=16
        ),
        # binary ANN: queries FIXED (base %31==0 rows), corpus K×. The
        # Hamming scan is Q·N codegen rows over 16-byte packed words —
        # must grow ~K (one corpus pass), with row_number ≤ k pushed
        # map-side as a partial WindowGroupLimit (plan-pinned in
        # tests/test_plans.py); the rerank adds an id-keyed join over
        # Q·coarse_k rows, a K-independent constant
        "ann_binary_fixed_queries": lambda k: SIM.binary_sign_topk(
            inflate_emb(emb, k),
            emb.filter(F.col("vec_id") % 31 == 0),
            k=10,
        ),
        "ann_binary_rerank_fixed_queries": lambda k: SIM.binary_rerank_topk(
            inflate_emb(emb, k),
            emb.filter(F.col("vec_id") % 31 == 0),
            k=5,
            coarse_k=20,
        ),
        # round-10: mutual k-NN with BOTH sides K× (the bitext-mining
        # shape — both languages' corpora grow together), so the
        # broadcast Hamming scan is (K·N/2)² by construction: the probe
        # measures that quadratic candidate law; the 100 TB mitigation
        # is swapping the broadcast scan for the banded signature join
        # (pigeonhole chunks over the same packed words), not a faster
        # scan
        "mutual_knn_both_sides": lambda k: SIM.mutual_knn_hamming(
            inflate_emb(emb, k).filter(F.col("vec_id") % 2 == 0),
            inflate_emb(emb, k).filter(F.col("vec_id") % 2 == 1),
            k=5,
        ),
        # margin filter: queries FIXED, corpus K× — the two broadcast-
        # small scans must grow ~K like every fixed-Q ANN probe
        "margin_fixed_queries": lambda k: SIM.margin_knn_filter(
            inflate_emb(emb, k),
            emb.filter(F.col("vec_id") % 31 == 0),
            k=4,
            threshold_milli=0,
        ),
        # round-10: exact-substring REMOVAL — posting-list family like
        # ngram_jaccard/containment but with NO pair join: the heavy
        # stage is the gram-keyed occurrence window, which grows with
        # Σ posting sizes (~K·N), never posting² — removal should stay
        # ~linear even on the pathological all-copies-near-dup corpus
        # where the pair ops legitimately blow up. Inflation makes every
        # copy share most grams with its K-1 siblings, so the REMOVED
        # token mass grows superlinearly (semantics), while runtime
        # tracks the scan.
        "substring_removal": lambda k: DD.exact_substring_dedup(
            inflate_docs(docs, k), n=4, min_span=6, max_occ=1000
        ),
        # round-10 session-3. EWMA: inflation replays the SAME calendar
        # days (hot-skewed), so the daily aggregate stays calendar-sized
        # while the raw scan grows K — growth must track the scan (~K),
        # proving the collapse-first shape; the 30× range join is over
        # the calendar-sized frame and must not move.
        "ewma_daily": lambda k: TMPO.ewma_daily_counts(
            inflate_events_hot(ev, k)
        ),
        # neighbor-Jaccard: posting-capped pair family — edges grow ~K
        # (distinct (order,part) remap), postings are degree-capped, so
        # pair volume is bounded per shared neighbor; watch for the
        # hot-basket parts blowing past the cap (they should be DROPPED
        # by it, keeping growth ~edge-linear)
        "neighbor_jaccard_growth": lambda k: GR.neighbor_jaccard(
            _copurchase(inflate_items_hot_basket(li, k)).select(
                F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
            ),
            "pa",
            "pb",
        ),
        # hashed TF-IDF build: one scan + fixed-dim groupBy — the whole
        # point of the hashing trick is that NOTHING here is
        # vocab-keyed; must grow ~K
        "hashed_tfidf_vectors_growth": lambda k: RET.hashed_tfidf_vectors(
            inflate_docs(docs, k)
        ),
        # normalization-aware fingerprint groups: identical cost profile
        # claim to exact dedup (one scan, one map-side-combinable
        # groupBy) — ~K or the claim is wrong
        "normalized_fp_groups": lambda k: inflate_docs(docs, k)
        .select(TXT.aggressive_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .count(),
        # prefix-filter join: pair family WITHOUT a df cap — the rarity
        # order is the defense. Inflation makes every copy a true
        # near-dup of its k-1 siblings, so OUTPUT pairs grow ~k²·N by
        # semantics (same caveat as minhash/containment); what must NOT
        # blow up is candidate volume beyond the true-pair growth
        "prefix_filter_growth": lambda k: DD.prefix_filter_jaccard_pairs(
            inflate_docs(docs, k)
        ),
        # unigram-LM round: corpus pass grows K but collapses into the
        # frequency-weighted vocabulary, which inflation barely grows
        # (perturbed copies add few new types) — the whole DP is
        # vocab-sized, so growth must track the ONE corpus scan (~K at
        # most, flat while scan cost is sub-ambient)
        "unigram_lm_growth": lambda k: ULM.unigram_lm_piece_counts(
            inflate_docs(docs, k)
        ),
        # HBOS: two corpus passes (min/max, bin counts) + broadcast
        # histogram — must grow ~K, nothing pairwise anywhere
        "hbos_growth": lambda k: SIM.hbos_outlier_scores(inflate_emb(emb, k)),
        # k-core peel: 12 rounds of degree-agg + semi-joins over a
        # SHRINKING edge set — grows with the edge volume (~K); the hot
        # basket's K²-pair core survives peeling by construction, so
        # some super-linearity is semantic output, not plan failure
        "kcore_growth": lambda k: GR.kcore_peel(
            _copurchase(inflate_items_hot_basket(li, k)).select(
                F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
            ),
            "pa",
            "pb",
            k=3,
            rounds=12,
        ),
        # interval union under HOT-KEY skew: half the added copies
        # funnel onto ONE user, so the per-user window gets a straggler
        # partition — the probe measures how hard that hits (the
        # mitigation at 100 TB is the bucketed layout, like sessionize)
        "interval_union_hot": lambda k: _interval_union(
            inflate_events_hot(ev, k)
        ),
        # Stupid Backoff trigram: three count tables + one trigram
        # explode over the score shard — all scan-bound, ~K
        "sb3_growth": lambda k: LM.trigram_sb_perplexity(
            inflate_docs(docs, k).filter(F.col("doc_id") % 5 != 0),
            inflate_docs(docs, k).filter(F.col("doc_id") % 5 == 0),
        ),
        # MMR with the pool = the whole (inflated) corpus: k_sel driver
        # steps × one corpus pass each — ~K per the sequential-scan
        # contract (k_sel fixed at 4)
        "mmr_full_pool": lambda k: SIM.mmr_select(
            inflate_emb(emb, k), query_id=0, pool_lo=1, pool_hi=1 << 40, k=4
        ),
        # ---- round-11 hot-key stress family (VERDICT #4): the other
        # per-user keyed-window ops beyond interval_union_hot, each with
        # HALF the added events funneled onto ONE user — the straggler
        # bound is sort(hot-user rows); the measured mitigation is the
        # bucketed layout (sessionize_events_bucketed precedent)
        "sessionize_hot": lambda k: TMPO.sessionize(
            inflate_events_hot(ev, k)
        ),
        "attribution_hot": lambda k: _attribution(inflate_events_hot(ev, k)),
        "clamped_balance_hot": lambda k: _clamped_balance(
            inflate_events_hot(ev, k)
        ),
        "sequence_pattern_hot": lambda k: _sequence_pattern(
            inflate_events_hot(ev, k)
        ),
        "session_entry_exit_hot": lambda k: _session_entry_exit(
            inflate_events_hot(ev, k)
        ),
        # ---- round-12 hot-key stress (VERDICT r11 #6): the trained-
        # classifier featurizer path — frozen_featurizer's token->df
        # shuffle and the fused per-id (id,bucket,w) aggregation —
        # under (a) one token planted in ~half the corpus (hot df key)
        # and (b) one 1M-token doc with a fully distinct vocabulary
        # (hot id in the (id, token) agg + a vocab-exploded df table,
        # which must also push featurize_with's broadcast_if_small hint
        # past naive unconditional-broadcast territory)
        "featurizer_hot_token": lambda k: _featurize_frozen(
            inflate_docs_hot_token(docs, k)
        ),
        "featurizer_giant_doc": lambda k: _featurize_frozen(
            inflate_docs(docs, k)
            .select("doc_id", "text")
            .unionByName(_giant_doc(spark))
        ),
    }
    wanted = sys.argv[1:] or list(ops)
    for name in wanted:
        secs, rows = {}, {}
        for k in FACTORS:
            op = ops[name]
            if isinstance(op, tuple):  # (setup, build): setup is UNTIMED
                setup, build = op      # offline cost (e.g. a bucketed write)
                setup(k)
            else:
                build = op
            t0 = time.perf_counter()
            rows[str(k)] = build(k).count()  # forces full compute
            secs[str(k)] = round(time.perf_counter() - t0, 2)
            DD.release_cached()  # drop per-call pinned intermediates
        print(
            json.dumps(
                {
                    "op": name,
                    "sec": secs,
                    "rows": rows,
                    "growth_2x": round(secs["2"] / max(secs["1"], 1e-9), 2),
                    "growth_4x": round(secs["4"] / max(secs["1"], 1e-9), 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
