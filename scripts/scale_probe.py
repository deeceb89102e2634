"""Scale probe: amplify the documents/embeddings/events tables N×
(id-shifted copies — same value distribution, disjoint ids) and time the
dedup/ANN/text/session paths at each multiple. Linear wall-time growth =
the bucket-bounded candidate generation is holding; superlinear growth
would expose an all-pairs or recompute pathology.

The batch sweep runs first and the streaming-CEP sweep LAST: a stateful
replay (state-store commits + Arrow transfers) churns the JVM enough
(GC + C2 deopt) to inflate batch timings taken right after it — measured
~3-5× on the next multiple's MinHash when interleaved.

Run: ``python scripts/scale_probe.py [sf_dir] [multiples...]``; feeds the
table in SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def drive_batches(sink_write, df, order_col, n=4):
    """Feed ``df`` to a foreachBatch-style sink as ``n`` id-ordered,
    EQUAL-SIZED batches (quantile cut points on ``order_col``, not equal
    id ranges — amplified copies sit at 1M-stride ids, where an id-range
    split degenerates into whole-copy mega-batches plus empty ones) and
    return the elapsed wall time."""
    # a NULL order_col would fall out of every (lo, hi] batch and the
    # probe would silently undercount while reporting success
    n_null = df.filter(F.col(order_col).isNull()).count()
    if n_null:
        raise ValueError(f"{n_null} rows have NULL {order_col}; probe would drop them")
    qs = df.approxQuantile(order_col, [i / n for i in range(1, n)], 0.001)
    bounds = [float("-inf")] + qs + [float("inf")]
    t0 = time.time()
    for i in range(n):
        sink_write(
            df.filter(
                (F.col(order_col) > bounds[i]) & (F.col(order_col) <= bounds[i + 1])
            ),
            i,
        )
    return time.time() - t0


def amplify(df, id_col, n):
    out = df
    step = 1_000_000
    for i in range(1, n):
        out = out.unionByName(df.withColumn(id_col, F.col(id_col) + i * step))
    return out


def main() -> int:
    from flinkrealtimedatawarehouse_spark.datapipeline import similarity, textdedup, textstats
    from flinkrealtimedatawarehouse_spark.operators import sessions
    from flinkrealtimedatawarehouse_spark.session import get_spark
    from flinkrealtimedatawarehouse_spark.streaming import runner as srunner
    from flinkrealtimedatawarehouse_spark.streaming import state as sstate
    from flinkrealtimedatawarehouse_spark.tables import load_table

    sweeps = {"batch", "cep", "sinks", "funnel", "scd2topk", "spans", "spansink",
              "dp3cap", "sindexcost", "dp19", "clupkeep", "incrsnap", "dagsoak",
              "pprune", "idxgc", "migrate", "dp3res"}
    args = sys.argv[1:]
    sf = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    picked = {a for a in args if a in sweeps} or sweeps
    multiples = [
        int(a) for a in args if not os.path.isdir(a) and a not in sweeps
    ] or [1, 2, 4, 8]

    def want(name):
        return name in picked

    spark = get_spark("scale_probe")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    ev = load_table(spark, sf, "events")  # handles TIMESTAMP(NANOS)
    base_n, base_e = docs.count(), emb.count()

    def amp_events(m):
        # copies get disjoint user_id ranges (base ids are small TPC-H-ish
        # keys, far below the 1M step), so sessions never merge across
        # copies even though timestamps are shared
        out = ev
        for i in range(1, m):
            out = out.unionByName(ev.withColumn("user_id", F.col("user_id") + i * 1_000_000))
        return out

    for m in (multiples if want("batch") else []):
        d = amplify(docs, "doc_id", m)
        t0 = time.time()
        n_pairs = textdedup.minhash_near_dups(d, "doc_id", "text", 3, 16, 8, 0.5).count()
        t_mh = time.time() - t0
        t0 = time.time()
        textstats.corpus_ngrams(d, "text", 2, 20).collect()
        t_ng = time.time() - t0
        t0 = time.time()
        textstats.bm25_terms(d, "doc_id", "text", k=3).count()
        t_bm = time.time() - t0
        # amplified copies duplicate every line m times — worst-case skew
        # for the first-occurrence window (one giant group per line)
        t0 = time.time()
        textdedup.line_dedup(d, "doc_id", "text").count()
        t_ld = time.time() - t0

        e = amplify(emb, "vec_id", m)
        probes = emb.filter(F.col("vec_id") < 8)  # fixed probe set at every scale
        t0 = time.time()
        similarity.ann_topk_lsh(e, probes, "vec_id", "embedding", k=5, n_planes=6).count()
        t_lsh = time.time() - t0
        t0 = time.time()
        similarity.cosine_topk_batch(e, probes, "vec_id", "embedding", k=5).count()
        t_bf = time.time() - t0

        t0 = time.time()
        n_sess = sessions.session_stats(
            amp_events(m), "user_id", "ts", 1800, tiebreak="event_id"
        ).count()
        t_se = time.time() - t0
        print(
            f"x{m} ({base_n * m} docs / {base_e * m} vecs): "
            f"minhash_lsh={t_mh:.1f}s ({n_pairs} pairs) corpus_ngrams={t_ng:.1f}s "
            f"bm25={t_bm:.1f}s line_dedup={t_ld:.1f}s ann_lsh={t_lsh:.1f}s "
            f"bruteforce_arrow={t_bf:.1f}s sessionize={t_se:.1f}s ({n_sess} sessions)",
            flush=True,
        )

    # post-cap linearity for the capped near-dup families (round-8 skew
    # guards), TWO growth models per multiple:
    #
    # - grow: each copy's text gets a distinct per-copy suffix (the
    #   gen_sf1 realistic-growth model) — cluster COUNT scales, cluster
    #   sizes don't, so kept candidates, wall time, AND the dropped
    #   fraction must all stay ~linear/stable;
    # - inflate: id-shifted IDENTICAL copies — every band bucket's
    #   population multiplies by m, the adversarial worst case (without
    #   the cap, candidates grow ~m^2: the sf1 kernel-OOM). Here the
    #   dropped-candidate UPPER BOUND necessarily grows ~m^2 (it counts
    #   the over-cap bucket mass) — the property under test is that kept
    #   candidates and wall time stay bounded anyway.
    #
    # Embeddings amplify with the gen_sf1 +-0.6% perturbation (distinct
    # points, same cluster geometry; sign buckets still inflate because
    # perturbation rarely flips a hyperplane sign — the realistic
    # behavior for clustered embeddings). Feeds the POST-CAP-LINEARITY
    # table in SCALE.md.
    def _cand_split(sizes, cap, both_ends=False):
        # over-cap buckets emit representative witness pairs (round-10
        # chaining; round-11 rotation doesn't change the count for the
        # banded families: c-1 per bucket; the bandless embedding family
        # chains BOTH ends: 2c-3 distinct), so kept includes the witness
        # rows and dropped counts only the skipped non-witness mass —
        # matching textdedup._over_cap_stats
        wit = (2 * F.col("c") - 3) if both_ends else (F.col("c") - 1)
        row = sizes.select(
            F.when(F.col("c") <= cap, F.col("c") * (F.col("c") - 1) / 2)
            .otherwise(wit.cast("double")).alias("kept"),
            F.when(F.col("c") > cap,
                   F.col("c") * (F.col("c") - 1) / 2 - wit)
            .otherwise(0.0).alias("dropped"),
        ).agg(F.sum("kept"), F.sum("dropped")).collect()[0]
        kept, dropped = int(row[0] or 0), int(row[1] or 0)
        frac = dropped / (kept + dropped) if kept + dropped else 0.0
        return kept, dropped, frac

    def amplify_grow(df, id_col, m):
        """Distinct content per copy (gen_sf1's realistic growth model)."""
        out = df
        for i in range(1, m):
            out = out.unionByName(
                df.withColumn(id_col, F.col(id_col) + i * 1_000_000)
                .withColumn("text", F.concat("text", F.lit(" x"), F.col(id_col)))
            )
        return out

    def amplify_perturb(df, id_col, vec_col, m):
        """gen_sf1's +-0.6% deterministic embedding perturbation."""
        out = df
        for i in range(1, m):
            out = out.unionByName(
                df.withColumn(id_col, F.col(id_col) + i * 1_000_000).withColumn(
                    vec_col,
                    F.transform(
                        vec_col,
                        lambda x, j: (
                            x * (1.0 + ((F.col(id_col) * 31 + j) % 13 - 6) / 1000.0)
                        ).cast("float"),
                    ),
                )
            )
        return out

    for m in (multiples if want("dp3cap") else []):
        sh_cap, mh_cap, ed_cap = 500, 500, 1000  # the gate/sweep guard values
        for variant, d in (("grow", amplify_grow(docs, "doc_id", m)),
                           ("inflate", amplify(docs, "doc_id", m))):
            t0 = time.time()
            pairs_sh = textdedup.simhash_near_dups(
                d, "doc_id", "text", max_hamming=6, hot_bucket_cap=sh_cap
            ).persist()
            n_sh = pairs_sh.count()
            t_sh = time.time() - t0
            br = textdedup._simhash_band_rows(
                textdedup.simhash(d, "doc_id", "text"), "doc_id"
            )
            sh_sizes = br.groupBy("band_idx", "band_val").agg(
                F.count(F.lit(1)).alias("c")
            )
            sh_k, sh_d, sh_f = _cand_split(sh_sizes, sh_cap)
            # residue accounting (r12 task #5): docs hot in EVERY band
            # whose chained witness pairs all fail the Hamming verify —
            # the accounted recall floor of the rotation design. Measured
            # per multiple so "the floor is a fixed fraction of the
            # all-hot mass, not a growing set" is data, not extrapolation.
            all_hot = (
                br.join(sh_sizes, ["band_idx", "band_val"])
                .groupBy("doc_id").agg(F.min("c").alias("_minc"))
                .filter(F.col("_minc") > sh_cap).select("doc_id")
            )
            paired = (
                pairs_sh.select(F.col("id_a").alias("doc_id"))
                .unionByName(pairs_sh.select(F.col("id_b").alias("doc_id")))
                .distinct()
            )
            n_allhot = all_hot.count()
            n_res = all_hot.join(paired, "doc_id", "left_anti").count()
            pairs_sh.unpersist()

            t0 = time.time()
            n_mh = textdedup.minhash_near_dups(
                d, "doc_id", "text", 3, 16, 8, 0.5, hot_bucket_cap=mh_cap
            ).count()
            t_mh = time.time() - t0
            mh_sizes = (
                textdedup.lsh_band_rows(
                    textdedup.minhash_signatures(d, "doc_id", "text", 3, 16),
                    "doc_id", 8, 2,
                ).groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("c"))
            )
            mh_k, mh_d, mh_f = _cand_split(mh_sizes, mh_cap)
            print(
                f"x{m} dp3cap[{variant}]: simhash={t_sh:.1f}s ({n_sh} pairs, "
                f"kept {sh_k} / dropped<= {sh_d}, {sh_f:.1%}, "
                f"allhot={n_allhot} residue={n_res} "
                f"[{n_res / max(n_allhot, 1):.2%}]) "
                f"minhash={t_mh:.1f}s ({n_mh} pairs, kept {mh_k} / "
                f"dropped<= {mh_d}, {mh_f:.1%})",
                flush=True,
            )

        from flinkrealtimedatawarehouse_spark.datapipeline.similarity import (
            hyperplane_bucket, quantized,
        )

        e = amplify_perturb(emb, "vec_id", "embedding", m)
        t0 = time.time()
        pairs_ed = textdedup.embedding_near_dups(
            e, "vec_id", "embedding", threshold=0.99, n_planes=8,
            hot_bucket_cap=ed_cap,
        ).persist()
        n_ed = pairs_ed.count()
        t_ed = time.time() - t0
        ebr = e.select(
            "vec_id",
            hyperplane_bucket(quantized(F.col("embedding"), 1000), 8).alias("b"),
        )
        ed_sizes = ebr.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        ed_k, ed_d, ed_f = _cand_split(ed_sizes, ed_cap, both_ends=True)
        # residue accounting, embedding family (r12): hot-sign-bucket
        # members with ZERO verified pairs — the same dilution mechanism
        # the simhash residue exposed (256 sign buckets), measured per
        # multiple. Unlike simhash, a residue member here may genuinely
        # have no >= threshold partner; the column bounds the hole, the
        # trend across multiples tells whether it GROWS.
        ed_hot = (
            ebr.join(ed_sizes, "b").filter(F.col("c") > ed_cap).select("vec_id")
        )
        ed_paired = (
            pairs_ed.select(F.col("id_a").alias("vec_id"))
            .unionByName(pairs_ed.select(F.col("id_b").alias("vec_id")))
            .distinct()
        )
        n_edhot = ed_hot.count()
        n_edres = ed_hot.join(ed_paired, "vec_id", "left_anti").count()
        # sibling-recall decomposition (m > 1): amplified copies are TRUE
        # >= threshold partners by construction, so the fraction of
        # (base, copy) pairs found in the verified output, against the
        # fraction sharing the primary sign bucket at all (the inherent
        # single-table LSH ceiling — a pair split across buckets is
        # unreachable capped or not), separates cap-induced loss from
        # LSH recall.
        sib_line = ""
        if m > 1:
            sibs = (
                ebr.select(F.col("vec_id").alias("id_a"), F.col("b").alias("ba"))
                .join(
                    ebr.select((F.col("vec_id") - 1_000_000).alias("id_a"),
                               F.col("vec_id").alias("id_b"),
                               F.col("b").alias("bb")),
                    "id_a",
                )
            )
            n_sib = sibs.count()
            n_cob = sibs.filter(F.col("ba") == F.col("bb")).count()
            n_found = sibs.join(pairs_ed, ["id_a", "id_b"], "left_semi").count()
            # the metric that matters downstream: siblings CONNECTED
            # through the verified pair graph (a coherent bottom group
            # chains every member through its rep, so a sibling pair can
            # be connected without a direct pair — that is the designed
            # O(c) behavior, not a recall loss)
            ids_ed = (
                pairs_ed.select(F.col("id_a").alias("vec_id"))
                .unionByName(pairs_ed.select(F.col("id_b").alias("vec_id")))
                .distinct()
            )
            cc = textdedup.dedup_clusters(
                pairs_ed.select("id_a", "id_b"), ids_ed, "vec_id"
            )
            ca = cc.select(F.col("vec_id").alias("id_a"),
                           F.col("cluster").alias("cla"))
            cb = cc.select(F.col("vec_id").alias("id_b"),
                           F.col("cluster").alias("clb"))
            n_conn = (
                sibs.join(ca, "id_a").join(cb, "id_b")
                .filter(F.col("cla") == F.col("clb")).count()
            )
            sib_line = (
                f" sib_pairs={n_sib} co_bucket={n_cob / max(n_sib, 1):.1%} "
                f"found={n_found / max(n_sib, 1):.1%} "
                f"connected={n_conn / max(n_sib, 1):.1%}"
            )
        pairs_ed.unpersist()
        print(
            f"x{m} dp3cap[perturb]: embcos={t_ed:.1f}s ({n_ed} pairs, "
            f"kept {ed_k} / dropped<= {ed_d}, {ed_f:.1%}, "
            f"hot={n_edhot} residue={n_edres} "
            f"[{n_edres / max(n_edhot, 1):.2%}]{sib_line})",
            flush=True,
        )

    # dp19 cluster assignment vs corpus size: the chaining fix (round 10)
    # means megacluster mass now reaches dedup_clusters as witness edges,
    # so the CC stage itself must be re-checked past sf1. The inflate
    # amplifier is the harsh case: copies are exact dups of each other, so
    # every cluster's SIZE grows m× (not just the cluster count) and the
    # min label must propagate across copies. Claim under test: label-prop
    # rounds stay ~graph-diameter (flat in m), star rounds stay O(log n),
    # wall flat-to-linear in m, and both algorithms agree on the
    # partition (cluster COUNT equality here; full assignment equality is
    # pinned in tests/test_datapipeline.py).
    for m in (multiples if want("dp19") else []):
        d = amplify(docs, "doc_id", m)
        pairs = textdedup.minhash_near_dups(
            d, "doc_id", "text", 3, 16, 8, 0.5, hot_bucket_cap=500
        ).localCheckpoint(eager=True)  # freeze the edge feed out of the CC timing
        n_pairs = pairs.count()
        ids = d.select("doc_id")
        r_lp: list = []
        t0 = time.time()
        lp = textdedup.dedup_clusters(pairs, ids, "doc_id", rounds_out=r_lp)
        n_cl_lp = lp.select("cluster").distinct().count()
        t_lp = time.time() - t0
        r_st: list = []
        t0 = time.time()
        st = textdedup.dedup_clusters_star(pairs, ids, "doc_id", rounds_out=r_st)
        n_cl_st = st.select("cluster").distinct().count()
        t_st = time.time() - t0
        agree = "AGREE" if n_cl_lp == n_cl_st else "DISAGREE"
        print(
            f"x{m} dp19 ({base_n * m} docs, {n_pairs} pairs): "
            f"labelprop={t_lp:.1f}s rounds={r_lp[0]} clusters={n_cl_lp} "
            f"star={t_st:.1f}s rounds={r_st[0]} clusters={n_cl_st} [{agree}]",
            flush=True,
        )

    # streaming cluster upkeep cost decomposition: fold the (amplified)
    # corpus's real near-dup pairs through ClusterUpkeepSink as N equal
    # batches, timing EACH write_batch. The design claim is two-part:
    # contraction keeps the CC work O(|batch| + touched clusters) — no
    # recompute over accumulated pairs — and (round 12) the commit writes
    # only the batch's CHANGED label rows as a delta into the partitioned
    # store, so per-batch wall should stay flat-to-gentle as the label
    # table grows and scale with pair mass across multiples — a
    # superlinear rise within one run would expose a hidden
    # O(accumulated-pairs) term the contraction exists to avoid.
    for m in (multiples if want("clupkeep") else []):
        from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink
        from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

        d = amplify(docs, "doc_id", m)
        cl_pairs = textdedup.minhash_near_dups(
            d, "doc_id", "text", 3, 16, 8, 0.5, hot_bucket_cap=500
        ).select("id_a", "id_b").localCheckpoint(eager=True)
        n_pairs = cl_pairs.count()
        csink = ClusterUpkeepSink(scratch_dir(f"clup{m}"), "doc_id")
        cbt: list[float] = []

        def _fold_cl(b, i):
            t0 = time.time()
            csink.write_batch(b, i)
            cbt.append(time.time() - t0)

        drive_batches(_fold_cl, cl_pairs, "id_a", n=8)
        n_lab = csink.current(spark).count()
        print(
            f"x{m} clupkeep ({n_pairs} pairs -> {n_lab} labels, 8 batches): "
            + " ".join(f"b{i}={t:.1f}s" for i, t in enumerate(cbt)),
            flush=True,
        )

    # streamed-index upkeep cost vs INDEX size: fold the (amplified)
    # corpus into the postings/IVF streamed indexes as N equal batches,
    # timing EACH write_batch. The append-only design claims per-batch
    # work is O(|batch|) with no read-modify-write of the existing index —
    # so the per-batch wall must stay FLAT from batch 0 (empty index) to
    # batch N-1 (N-1 batches already on disk). A growing per-batch wall
    # would expose a hidden index-size term (e.g. an accidental full-index
    # read in the fold).
    for m in (multiples if want("sindexcost") else []):
        from flinkrealtimedatawarehouse_spark.streaming import searchindex, simsearch
        from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir

        n_b = 8
        d = amplify(docs, "doc_id", m)
        psink = searchindex.PostingsIndexSink(
            scratch_dir(f"sidxcost_p{m}"), "doc_id", "text"
        )
        bt: list[float] = []

        def _fold_post(b, i):
            t0 = time.time()
            psink.write_batch(b, i)
            bt.append(time.time() - t0)

        drive_batches(_fold_post, d, "doc_id", n=n_b)
        print(
            f"x{m} sindexcost postings ({base_n * m} docs, {n_b} batches): "
            + " ".join(f"b{i}={t:.1f}s" for i, t in enumerate(bt)),
            flush=True,
        )

        e = amplify_perturb(emb, "vec_id", "embedding", m)
        vsink = simsearch.IvfIndexSink(
            scratch_dir(f"sidxcost_v{m}"), "vec_id", "embedding", "label"
        )
        vt: list[float] = []

        def _fold_ivf(b, i):
            t0 = time.time()
            vsink.write_batch(b, i)
            vt.append(time.time() - t0)

        drive_batches(_fold_ivf, e, "vec_id", n=n_b)
        print(
            f"x{m} sindexcost ivf ({base_e * m} vecs, {n_b} batches): "
            + " ".join(f"b{i}={t:.1f}s" for i, t in enumerate(vt)),
            flush=True,
        )

    # substring-level dedup under amplification: id-shifted IDENTICAL
    # copies make EVERY window hash an m-way duplicate — worst-case skew
    # for the first-occurrence window — while coverage must grow linearly
    # (every copy past the first is fully covered)
    for m in (multiples if want("spans") else []):
        d = amplify(docs, "doc_id", m)
        t0 = time.time()
        agg = (
            textdedup.repeated_spans(d, "doc_id", "text", window_n=8)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("dup_windows").alias("dw"),
                F.sum("dup_coverage").alias("cov"),
            )
            .collect()[0]
        )
        t_sp = time.time() - t0
        print(
            f"x{m} repeated_spans={t_sp:.1f}s ({agg['docs']} docs, "
            f"{agg['dw']} dup windows, {agg['cov']} covered tokens)",
            flush=True,
        )

    # streaming span-state sink: 4 batches per multiple; amplified
    # identical copies collapse onto the same window hashes, so the state
    # must stay ~flat (bounded by distinct content) while flagged
    # coverage grows with every copy past the first
    from flinkrealtimedatawarehouse_spark.streaming.neardup import SpanStateDedupSink

    for m in (multiples if want("spansink") else []):
        d = amplify(docs, "doc_id", m).select("doc_id", "text")
        sk = SpanStateDedupSink(
            srunner.scratch_dir(f"probe_sp_x{m}"), "doc_id", "text", window_n=8
        )
        sk.init(spark)
        t_sp = drive_batches(sk.write_batch, d, "doc_id")
        n_state = sk.state(spark).count()
        cov = sk.flags(spark).agg(F.sum("dup_coverage")).collect()[0][0]
        print(
            f"x{m} spansink_ingest={t_sp:.1f}s (state {n_state} window hashes, "
            f"{cov} covered tokens)",
            flush=True,
        )

    # streaming CEP bounce (T7, applyInPandasWithState) — the one
    # Python-state component; its own sweep so the state-store/Arrow churn
    # can't contaminate the batch timings above
    for m in (multiples if want("cep") else []):
        ev_amp = amp_events(m)
        tag = f"probe_t7_x{m}"
        in_dir = srunner.stage_stream_dir(ev_amp, "ts", 5, tag)
        sent = srunner.make_sentinel(
            ev_amp, "ts", "400 seconds", {"user_id": -1, "event_id": -1, "event_type": "__wm__"}
        )
        srunner.append_sentinel_file(in_dir, sent, tag)
        sdf = srunner.parquet_stream(spark, in_dir, ev_amp.schema)
        t0 = time.time()
        n_bounce = (
            srunner.run_to_memory(sstate.bounce_stream(sdf, gap_s=300), tag)
            .filter(F.col("user_id") >= 0)
            .count()
        )
        t_cep = time.time() - t0
        print(f"x{m} cep_stream={t_cep:.1f}s ({n_bounce} bounces)", flush=True)

    # incremental-sink sweep: band-state near-dup and Misra-Gries heavy
    # hitters, driven batch-by-batch (4 batches per multiple) — measures
    # the per-increment cost and the state growth the streaming-ingest
    # story depends on (state ~ O(corpus bands) for near-dup, O(m) flat
    # for MG regardless of scale)
    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters, neardup

    for m in (multiples if want("sinks") else []):
        d = amplify(docs, "doc_id", m).select("doc_id", "text")
        nd = neardup.KeyStateNearDupSink(
            srunner.scratch_dir(f"probe_nd_x{m}"), "doc_id",
            neardup.minhash_band_keys("doc_id", "text"),
        )
        nd.init(spark)
        t_nd = drive_batches(nd.write_batch, d, "doc_id")
        n_state = nd.state(spark).count()
        n_dup = nd.flags(spark).agg(F.sum("is_near_dup")).collect()[0][0]

        evm = amp_events(m).select(F.col("event_type").alias("k"))
        mg = heavyhitters.MisraGriesSink(
            srunner.scratch_dir(f"probe_mg_x{m}"), ["k"], m=16
        )
        mg.init(spark, "k string")
        t0 = time.time()
        for i in range(4):
            mg.write_batch(evm.filter(F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(4)) == i), i)
        t_mg = time.time() - t0
        print(
            f"x{m} neardup_ingest={t_nd:.1f}s ({n_state} band keys, {n_dup} dups) "
            f"mg_heavyhitters={t_mg:.1f}s (state {mg.current(spark).count()} rows)",
            flush=True,
        )

    # round-12 write-volume probe: the PartitionedSnapshotStore's claim is
    # per-batch write bytes ~ O(|delta|), never O(|state|). Drive the band
    # sink 16 batches; per batch, record the bytes the commit actually
    # wrote (delta + any fold runs, straight from the manifest) against
    # an A/B measurement of what the OLD backend paid: the full merged
    # state, written once to a scratch dir (excluded from the sink wall).
    def _manifest_run_bytes(sink, prefix):
        man = sink._load_manifest(sink.version)["parts"]
        name = f"{prefix}{sink.version:06d}"
        return sum(r["b"] for runs in man.values() for r in runs
                   if r["n"] == name)

    def _dir_bytes(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f_ in files:
                total += os.path.getsize(os.path.join(root, f_))
        return total

    for m in (multiples if want("incrsnap") else []):
        d = amplify(docs, "doc_id", m).select("doc_id", "text")
        nd = neardup.KeyStateNearDupSink(
            srunner.scratch_dir(f"probe_is_x{m}"), "doc_id",
            neardup.minhash_band_keys("doc_id", "text"),
        )
        nd.init(spark)
        recs = []

        def _w(b, i):
            t0 = time.time()
            nd.write_batch(b, i)
            wall = time.time() - t0
            db = _manifest_run_bytes(nd, "d")
            fb = _manifest_run_bytes(nd, "f")
            # old-backend A/B: a full merged-state rewrite, timed apart
            rw_dir = srunner.scratch_dir(f"probe_is_rw_x{m}_{i}")
            t1 = time.time()
            nd.current(spark).write.mode("overwrite").parquet(rw_dir)
            rw_wall = time.time() - t1
            recs.append((i, wall, db, fb, nd.state_bytes(),
                         _dir_bytes(rw_dir), rw_wall))

        drive_batches(_w, d, "doc_id", n=16)
        print(f"x{m} incrsnap (16 batches, band sink): "
              "bid wall deltaKB foldKB stateKB oldRewriteKB oldRewriteWall",
              flush=True)
        for i, wall, db, fb, sb, rwb, rww in recs:
            print(
                f"x{m} incrsnap b{i}: {wall:.1f}s d={db/1024:.0f} "
                f"f={fb/1024:.0f} state={sb/1024:.0f} "
                f"old={rwb/1024:.0f} oldwall={rww:.1f}s",
                flush=True,
            )

        # SCD2 twin: a rotating 50-key slice of a 200m-key dim changes
        # per batch, so every batch's delta is the touched keys' restamped
        # interval history (grows with THEIR change count) while the full
        # history table grows with every key's — the claim is delta bytes
        # track the touched slice, not the table
        from flinkrealtimedatawarehouse_spark.streaming.sinks import (
            Scd2HistorySink,
        )

        scd_schema = "pk long, v long, type string, attr string"
        sc = Scd2HistorySink(
            srunner.scratch_dir(f"probe_is_scd2_x{m}"), "pk", "v"
        )
        sc.init(spark.createDataFrame([], scd_schema))
        n_keys = 200 * m
        srecs = []
        for b in range(16):
            lo = (b % 4) * (n_keys // 4)
            rows2 = [(int(lo + k), b, "insert", f"a{b}")
                     for k in range(n_keys // 4)]
            df2 = spark.createDataFrame(rows2, scd_schema)
            t0 = time.time()
            sc.write_batch(df2, b)
            srecs.append((b, time.time() - t0,
                          _manifest_run_bytes(sc, "d"),
                          _manifest_run_bytes(sc, "f"), sc.state_bytes()))
        for i, wall, db, fb, sb in srecs:
            print(
                f"x{m} incrsnap-scd2 b{i}: {wall:.1f}s d={db/1024:.0f} "
                f"f={fb/1024:.0f} state={sb/1024:.0f}",
                flush=True,
            )

    # round-12 composed-DAG soak (VERDICT r12 task #2): the detector +
    # cluster-upkeep DAG driven DEEP (64 batches) at amplified scale — the
    # state-accumulation regime where the old backend's O(|state|)
    # rewrite term had to show. Per-batch wall plus both sinks' per-batch
    # write bytes; the claim under the incremental store is wall and
    # bytes flat-to-gentle from b0 to b63.
    for m in (multiples if want("dagsoak") else []):
        from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

        n_b = 64
        d = amplify(docs, "doc_id", m).select("doc_id", "text")
        cl = ClusterUpkeepSink(srunner.scratch_dir(f"probe_ds_cl_x{m}"), "doc_id")
        nd = neardup.KeyStateNearDupSink(
            srunner.scratch_dir(f"probe_ds_nd_x{m}"), "doc_id",
            neardup.minhash_band_keys("doc_id", "text"), cluster_sink=cl,
        )
        nd.init(spark)
        recs = []

        def _w(b, i):
            t0 = time.time()
            nd.write_batch(b, i)
            lp = cl.last_probe or {}
            recs.append((
                time.time() - t0,
                _manifest_run_bytes(nd, "d") + _manifest_run_bytes(nd, "f"),
                (_manifest_run_bytes(cl, "d") + _manifest_run_bytes(cl, "f"))
                if cl.version >= 0 else 0,
                lp.get("lookup_bytes", 0),   # id-keyed: contraction+newly-seen
                lp.get("member_bytes", 0),   # cluster-keyed via secondary index
                lp.get("state_bytes", 0),    # full label table (the un-pruned cost)
            ))

        drive_batches(_w, d, "doc_id", n=n_b)
        walls = [r[0] for r in recs]
        n_lab = cl.current(spark).count()
        n_state = nd.state(spark).count()
        print(
            f"x{m} dagsoak ({n_b} batches, {base_n * m} docs -> "
            f"{n_state} band keys, {n_lab} labels): "
            + " ".join(f"b{i}={t:.1f}s" for i, t in enumerate(walls)),
            flush=True,
        )
        print(
            f"x{m} dagsoak bytes/batch (band+cluster KB): "
            + " ".join(f"b{i}={(r[1] + r[2]) / 1024:.0f}"
                       for i, r in enumerate(recs)),
            flush=True,
        )
        # r12 task #2 acceptance: the cluster sink's THREE label-table
        # probes must all read pruned bytes — the id-keyed pair
        # (contraction lookup + newly-seen anti-join, one shared read)
        # and the cluster-keyed membership probe (secondary-index-pruned
        # since r13) — each tracking touched partitions, not state size
        print(
            f"x{m} dagsoak label-read KB/batch (lookup|member|full): "
            + " ".join(
                f"b{i}={r[3] / 1024:.0f}|{r[4] / 1024:.0f}|{r[5] / 1024:.0f}"
                for i, r in enumerate(recs)
            ),
            flush=True,
        )
        q = sorted(walls)
        print(
            f"x{m} dagsoak wall quartiles: first4={sum(walls[:4]) / 4:.1f}s "
            f"last4={sum(walls[-4:]) / 4:.1f}s median={q[len(q) // 2]:.1f}s "
            f"max={q[-1]:.1f}s",
            flush=True,
        )

    # round-14 (VERDICT r13 task #5): name the simhash residue docs. The
    # dp3cap table's one unexplained cell is N grow-model docs at the top
    # multiple that are hot in EVERY band yet end with zero verified
    # pairs. Mechanism question: did the cap LOSE a true <=max_hamming
    # partner (a third witness-geometry hole), or does the doc have no
    # such partner anywhere in the corpus (benign: the residue column
    # counts all-hot docs WITHOUT pairs, which includes docs with nothing
    # to pair with)? Prints each residue doc's band/stratum witness path
    # (bucket rep + stratum rep Hamming — why its witnesses failed) and
    # its TRUE nearest neighbors by exact Hamming over the whole corpus
    # (whether anything was there to find).
    if want("dp3res"):
        from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import (
            SIMHASH_BAND_BITS,
            SIMHASH_BITS,
        )

        m = max(multiples)
        sh_cap, max_ham = 500, 6
        n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS

        # sibling CONNECTIVITY (cluster-level recall the pair-count
        # metric can't see): amplified copies are true near-dup partners
        # — identical under inflate (simhash equal, so connected has a
        # 100% ceiling), one-token suffix under grow (hamming usually but
        # not always <= max_ham, so the ceiling is the fraction of
        # siblings at <= max_ham, printed alongside). A witness-geometry
        # change can shrink the VERIFIED PAIR COUNT while preserving or
        # improving recall — redundant witnesses collapse inside one
        # cluster — so this is the number geometry changes are judged on.
        for variant, dv in (("grow", amplify_grow(docs, "doc_id", m)),
                            ("inflate", amplify(docs, "doc_id", m))):
            pv = textdedup.simhash_near_dups(
                dv, "doc_id", "text", max_hamming=max_ham,
                hot_bucket_cap=sh_cap,
            )
            ids_in = (
                pv.select(F.col("id_a").alias("doc_id"))
                .unionByName(pv.select(F.col("id_b").alias("doc_id")))
                .distinct()
            )
            # star CC, not label-prop: the chain geometry's verified
            # graph contains PATH components (adjacent same-template
            # docs), whose diameter exceeds label-prop's round budget —
            # big/small-star converges in O(log n) rounds on any shape
            cc = textdedup.dedup_clusters_star(
                pv.select("id_a", "id_b"), ids_in, "doc_id"
            )
            shv = textdedup.simhash(dv, "doc_id", "text")
            sibs = (
                shv.select(F.col("doc_id").alias("id_a"),
                           F.col("simhash").alias("sha"))
                .join(
                    shv.select((F.col("doc_id") - 1_000_000).alias("id_a"),
                               F.col("doc_id").alias("id_b"),
                               F.col("simhash").alias("shb")),
                    "id_a",
                )
            )
            n_sib = sibs.count()
            n_true = sibs.filter(
                F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))) <= max_ham
            ).count()
            ca = cc.select(F.col("doc_id").alias("id_a"),
                           F.col("cluster").alias("cla"))
            cb = cc.select(F.col("doc_id").alias("id_b"),
                           F.col("cluster").alias("clb"))
            n_conn = (
                sibs.join(ca, "id_a").join(cb, "id_b")
                .filter(F.col("cla") == F.col("clb")).count()
            )
            print(
                f"dp3res x{m}[{variant}] sibling connectivity: "
                f"sib_pairs={n_sib} true<= {max_ham}: "
                f"{n_true / max(n_sib, 1):.1%} "
                f"connected={n_conn / max(n_sib, 1):.1%}",
                flush=True,
            )

        d = amplify_grow(docs, "doc_id", m)
        sh = textdedup.simhash(d, "doc_id", "text").persist()
        br = textdedup._simhash_band_rows(sh, "doc_id")
        sizes = br.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("c")
        )
        all_hot = (
            br.join(sizes, ["band_idx", "band_val"])
            .groupBy("doc_id").agg(F.min("c").alias("_minc"))
            .filter(F.col("_minc") > sh_cap).select("doc_id")
        )
        pairs_sh = textdedup.simhash_near_dups(
            d, "doc_id", "text", max_hamming=max_ham, hot_bucket_cap=sh_cap
        )
        paired = (
            pairs_sh.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs_sh.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        res_ids = sorted(
            r["doc_id"]
            for r in all_hot.join(paired, "doc_id", "left_anti").collect()
        )
        print(f"dp3res x{m}[grow]: residue docs = {res_ids}", flush=True)
        for rid in res_ids:
            rsim = sh.filter(F.col("doc_id") == rid).collect()[0]["simhash"]
            nn = (
                sh.filter(F.col("doc_id") != rid)
                .select(
                    "doc_id",
                    F.bit_count(
                        F.col("simhash").bitwiseXOR(F.lit(rsim))
                    ).alias("ham"),
                )
                .orderBy("ham", "doc_id").limit(3).collect()
            )
            nn_s = " ".join(f"doc{r['doc_id']}@ham{r['ham']}" for r in nn)
            verdict = ("NO true <=%d partner exists — benign" % max_ham
                       if nn[0]["ham"] > max_ham else
                       "TRUE partner MISSED — witness-geometry hole")
            print(f"dp3res doc {rid}: simhash={rsim:#010x} nn: {nn_s} "
                  f"-> {verdict}", flush=True)
            # witness path: for each band, the bucket rep (min id even /
            # max id odd band) and the doc's second-band stratum rep —
            # the partners its capped witness pairs actually verified
            # against, with their Hamming distances
            for b in (
                br.filter(F.col("doc_id") == rid)
                .join(sizes, ["band_idx", "band_val"])
                .orderBy("band_idx").collect()
            ):
                bi, bv, c = b["band_idx"], b["band_val"], b["c"]
                bucket = br.filter(
                    (F.col("band_idx") == bi) & (F.col("band_val") == bv)
                )
                rep = bucket.orderBy(
                    F.col("doc_id").asc() if bi % 2 == 0
                    else F.col("doc_id").desc()
                ).limit(1).collect()[0]
                my_strat = (rsim >> (((bi + 1) % n_bands)
                                     * SIMHASH_BAND_BITS)) & 255
                strat_expr = F.expr(
                    f"shiftright(simhash, pmod(band_idx + 1, {n_bands}) "
                    f"* {SIMHASH_BAND_BITS}) & 255"
                )
                srep = (
                    bucket.withColumn("_strat", strat_expr)
                    .filter(F.col("_strat") == my_strat)
                    .orderBy("doc_id").limit(1).collect()[0]
                )

                def _ham(x):
                    return bin(x ^ rsim).count("1")

                print(
                    f"dp3res doc {rid} band{bi} val={bv} c={c}: "
                    f"bucket_rep=doc{rep['doc_id']}@ham{_ham(rep['simhash'])} "
                    f"stratum={my_strat} "
                    f"strat_rep=doc{srep['doc_id']}@ham{_ham(srep['simhash'])}",
                    flush=True,
                )
        sh.unpersist()

    # round-14 (VERDICT r13 task #1): id-keyed touched-partition pruning
    # at a deployment partition count. The r13 dagsoak ran at P=8, where
    # every ~1,500-doc batch hashes endpoints into all 8 partitions — its
    # id-keyed lookup column EQUALED the full label table by
    # construction, so subset pruning was argued, not shown. Here: P=64,
    # a label table pre-built across all partitions, then KEY-LOCAL
    # batches whose endpoint ids are chosen to hash into exactly k label
    # partitions (k swept over {2,4,8,16,32,64}, the sharded-upstream /
    # key-local-ingest regime). Claim: the id-keyed lookup reads ~ the k
    # touched partitions' share of the table — tracking batch key
    # spread, never state size.
    if want("pprune"):
        from flinkrealtimedatawarehouse_spark.streaming.clusters import (
            ClusterUpkeepSink,
        )

        P = 64
        cl = ClusterUpkeepSink(srunner.scratch_dir("probe_pprune"),
                               "doc_id", n_partitions=P)
        # id -> pid pools under the sink's routing (xxhash64 of the long
        # VALUE — computing it over spark.range matches the store's
        # pid_expr exactly). One bounded probe-construction collect.
        pools: dict[int, list[int]] = {p: [] for p in range(P)}
        for r in (
            spark.range(0, 150_000)
            .select("id", F.pmod(F.xxhash64("id"), F.lit(P))
                    .cast("int").alias("p"))
            .collect()
        ):
            pools[r["p"]].append(r["id"])
        cursor = {p: 0 for p in range(P)}

        def take(pid, n):
            c = cursor[pid]
            cursor[pid] += n
            return pools[pid][c:c + n]

        def pair_batch(pids, per_pid):
            ids = [i for p in pids for i in take(p, per_pid)]
            return spark.createDataFrame(
                list(zip(ids[0::2], ids[1::2])), "id_a long, id_b long"
            )

        bid = 0
        # build phase: 8 batches x all 64 pids -> mass in every partition
        for _ in range(8):
            cl.write_batch(pair_batch(list(range(P)), 30), bid)
            bid += 1
        print(
            f"pprune built: P={P} labels={cl.current(spark).count()} "
            f"stateKB={cl.state_bytes() / 1024:.0f}",
            flush=True,
        )
        # key-local phase: k pids per batch, two reps each, rotating the
        # pid choice so reps don't reuse partitions
        print("pprune k touched_pids lookupKB stateKB byteshare "
              "pidshare memberKB", flush=True)
        rot = 0
        for k in (2, 4, 8, 16, 32, 64):
            for _rep in range(2):
                chosen = [(rot + j) % P for j in range(k)]
                rot += k
                cl.write_batch(pair_batch(chosen, 32), bid)
                bid += 1
                lp = cl.last_probe
                print(
                    f"pprune k={k} touched={len(lp['lookup_pids'])} "
                    f"lookupKB={lp['lookup_bytes'] / 1024:.0f} "
                    f"stateKB={lp['state_bytes'] / 1024:.0f} "
                    f"byteshare={lp['lookup_bytes'] / max(lp['state_bytes'], 1):.3f} "
                    f"pidshare={len(lp['lookup_pids']) / P:.3f} "
                    f"memberKB={lp['member_bytes'] / 1024:.0f}",
                    flush=True,
                )

    # round-14 (VERDICT r13 task #3): index GC under merge churn — many
    # merges, few inserts, auto-GC on vs off. The cost stale entries
    # impose is index bytes scanned by the member probe
    # (index_probe_bytes); the claim is that under churn the no-GC index
    # grows monotonically while auto-GC caps it near the live set.
    if want("idxgc"):
        from flinkrealtimedatawarehouse_spark.streaming.clusters import (
            ClusterUpkeepSink,
        )

        def churn(threshold, tag):
            cl = ClusterUpkeepSink(
                srunner.scratch_dir(f"probe_idxgc_{tag}"), "doc_id",
                index_gc_threshold=threshold,
            )
            # insert phase: 4096 two-doc clusters, reps 0,2,4,...
            n = 4096
            cl.write_batch(
                spark.createDataFrame(
                    [(2 * i, 2 * i + 1) for i in range(n)],
                    "id_a long, id_b long",
                ),
                0,
            )
            recs = []
            # merge phase: halve the cluster count per batch — batch j
            # merges rep pairs at stride 2^j; ~all batches are pure churn
            # (every edge retires one cluster, inserts re-point members)
            bid, stride, reps = 1, 2, [2 * i for i in range(n)]
            while len(reps) > 1:
                pairs = [(reps[i], reps[i + 1])
                         for i in range(0, len(reps) - 1, 2)]
                cl.write_batch(
                    spark.createDataFrame(pairs, "id_a long, id_b long"),
                    bid,
                )
                lp = cl.last_probe
                recs.append((
                    bid, len(pairs), lp["index_bytes"] / 1024,
                    lp["index_probe_bytes"] / 1024,
                    lp["index_stale_frac"],
                    bool(lp.get("index_gc_rebuilt")),
                ))
                reps = [reps[i] for i in range(0, len(reps), 2)]
                bid += 1
            print(f"idxgc[{tag}] bid merges idxKB probeKB staleFrac "
                  "rebuilt", flush=True)
            for b, nm, ib, pb, sf_, rb in recs:
                print(
                    f"idxgc[{tag}] b{b}: merges={nm} idxKB={ib:.0f} "
                    f"probeKB={pb:.0f} stale={sf_:.2f} "
                    f"rebuilt={'Y' if rb else 'n'}",
                    flush=True,
                )
            n_lab = cl.current(spark).count()
            idx_rows = cl.pidx.current(spark).count()
            print(
                f"idxgc[{tag}] final: labels={n_lab} idx_rows={idx_rows} "
                f"idxKB={cl.pidx.state_bytes() / 1024:.0f}",
                flush=True,
            )

        churn(None, "off")
        churn(0.5, "auto")

    # round-14 (VERDICT r13 task #4): price the repartitioned() migration
    # at real store sizes — (a) a dagsoak-scale cluster label store built
    # from the sf corpus's minhash pairs over 64 batches, (b) an
    # sf-scale SCD2 dim-history store — and run the as-of
    # before/after-cutover checks at that size.
    if want("migrate"):
        from flinkrealtimedatawarehouse_spark.datapipeline import textdedup as _td
        from flinkrealtimedatawarehouse_spark.streaming.clusters import (
            ClusterUpkeepSink,
        )
        from flinkrealtimedatawarehouse_spark.streaming.sinks import (
            Scd2HistorySink,
        )

        def _migrate_report(store, tag, new_dir, new_p):
            src_kb = store.state_bytes() / 1024
            t0 = time.time()
            new = store.repartitioned(spark, new_dir, n_partitions=new_p)
            wall = time.time() - t0
            written_kb = new.state_bytes() / 1024
            print(
                f"migrate[{tag}]: P={store.n_partitions}->{new_p} "
                f"srcKB={src_kb:.0f} wall={wall:.1f}s "
                f"writtenKB={written_kb:.0f} version={new.version}",
                flush=True,
            )
            return new

        # (a) cluster label store at dagsoak depth: the sf corpus's
        # minhash pair set streamed through cluster upkeep as 64 batches
        pairs = _td.minhash_near_dups(
            docs, "doc_id", "text", 3, 16, 8, 0.5
        ).select("id_a", "id_b")
        cl = ClusterUpkeepSink(srunner.scratch_dir("probe_mig_cl"),
                               "doc_id", n_partitions=8)
        drive_batches(cl.write_batch, pairs, "id_a", n=64)
        labels_before = {
            (r["doc_id"], r["cluster"])
            for r in cl.current(spark).collect()
        }
        new_labels_dir = os.path.join(
            srunner.scratch_dir("probe_mig_cl_new"), "labels"
        )
        _migrate_report(cl, "dagsoak-labels", new_labels_dir, 32)
        cl2 = ClusterUpkeepSink(os.path.dirname(new_labels_dir),
                                "doc_id", n_partitions=32)
        after = {(r["doc_id"], r["cluster"])
                 for r in cl2.current(spark).collect()}
        assert after == labels_before, "migration changed the label table"
        # as-of: pre-cutover history stays with the source, post-cutover
        # commits keep the one-version-per-batch convention
        asof_src = cl.clusters(spark, as_of_batch=31).count()
        try:
            cl2.clusters(spark, as_of_batch=31)
            raise AssertionError("pre-migration as-of must stay source-side")
        except ValueError:
            pass
        cl2.write_batch(
            spark.createDataFrame([(999_999_991, 999_999_992)],
                                  "id_a long, id_b long"),
            cl2.last_bid + 1,
        )
        asof_new = cl2.clusters(spark, as_of_batch=cl2.last_bid - 1).count()
        print(
            f"migrate[dagsoak-labels] checks: labels={len(after)} "
            f"asof_src_b31={asof_src} asof_new_pre_cutover={asof_new}",
            flush=True,
        )

        # (b) SCD2 history store: every customer's address/segment churn
        # replayed as dim changes (the bench's serving subject), 16 batches
        cust = spark.read.parquet(f"{sf}/customer.parquet")
        ch = cust.select(
            F.col("c_custkey").alias("pk"),
            (F.col("c_custkey") * 10).alias("v"),
            F.lit("insert").alias("type"),
            F.col("c_name").alias("attr"),
        ).unionByName(cust.select(
            F.col("c_custkey").alias("pk"),
            (F.col("c_custkey") * 10 + 1).alias("v"),
            F.lit("update").alias("type"),
            F.col("c_mktsegment").alias("attr"),
        ))
        sc = Scd2HistorySink(srunner.scratch_dir("probe_mig_scd2"),
                             "pk", "v")
        sc.init(ch.limit(0))
        drive_batches(sc.write_batch, ch, "v", n=16)
        hist_before = sc.history(spark).count()
        mig2_dir = srunner.scratch_dir("probe_mig_scd2_new")
        _migrate_report(sc, "scd2-history", mig2_dir, 32)
        sc2 = Scd2HistorySink(mig2_dir, "pk", "v", n_partitions=32)
        assert sc2.history(spark).count() == hist_before
        print(
            f"migrate[scd2-history] checks: hist_rows={hist_before} "
            f"carried (version={sc2.version}, last_bid={sc2.last_bid})",
            flush=True,
        )

    # round-3 stateful additions under amplification: k-step funnel
    # (event-time timers — per-user pattern buffer + tombstones), SCD2
    # history sink (touched-keys re-stamp), incremental top-k (state must
    # stay O(probes x k) REGARDLESS of corpus multiple). State sizes come
    # from the query progress (stateOperators.numRowsTotal) for the
    # streaming funnel and from the committed snapshots for the sinks.
    from flinkrealtimedatawarehouse_spark.streaming import simsearch
    from flinkrealtimedatawarehouse_spark.streaming import sinks as ssinks

    for m in (multiples if want("funnel") else []):
        ev_amp = amp_events(m).filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        tag = f"probe_fn_x{m}"
        in_dir = srunner.stage_stream_dir(ev_amp, "ts", 5, tag)
        sent = srunner.make_sentinel(
            ev_amp, "ts", "2000 seconds",
            {"user_id": -1, "event_id": -1, "event_type": "__wm__"},
        )
        srunner.append_sentinel_file(in_dir, sent, tag)
        sdf = srunner.parquet_stream(spark, in_dir, ev_amp.schema)
        t0 = time.time()
        n_funnel = (
            srunner.run_to_memory(
                sstate.funnel_stream(
                    sdf, ["view", "click", "purchase"],
                    window_s=1800, delay="30 seconds",
                ),
                tag,
            )
            .filter(F.col("user_id") >= 0)
            .count()
        )
        t_fn = time.time() - t0
        state_rows = max(
            (
                op.get("numRowsTotal", 0)
                for p in srunner.LAST_PROGRESS
                for op in p.get("stateOperators", [])
            ),
            default=0,
        )
        print(
            f"x{m} funnel_stream={t_fn:.1f}s ({n_funnel} users, "
            f"peak state {state_rows} rows)",
            flush=True,
        )

    for m in (multiples if want("scd2topk") else []):
        # SCD2: events replayed as dim changes (pk=user, version=event id)
        ch = amp_events(m).select(
            F.col("user_id").alias("pk"),
            F.col("event_id").alias("ver"),
            F.lit("insert").alias("type"),
            F.col("event_type").alias("attr"),
        )
        scd = ssinks.Scd2HistorySink(
            srunner.scratch_dir(f"probe_scd2_x{m}"), "pk", "ver"
        )
        scd.init(ch.limit(0))
        t_scd = drive_batches(scd.write_batch, ch, "ver")
        n_hist = scd.history(spark).count()

        e = amplify(emb, "vec_id", m)
        probes = emb.filter(F.col("vec_id") < 8)
        tk = simsearch.IncrementalTopKSink(
            srunner.scratch_dir(f"probe_tk_x{m}"), probes, "vec_id", "embedding", k=5
        )
        tk.init(spark)
        t_tk = drive_batches(tk.write_batch, e, "vec_id")
        n_tk = tk.current(spark).count()
        print(
            f"x{m} scd2_ingest={t_scd:.1f}s ({n_hist} history rows) "
            f"incr_topk={t_tk:.1f}s (state {n_tk} rows)",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
