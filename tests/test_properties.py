"""Property-based equivalence tests (hypothesis): randomized inputs checked
against brute-force Python reference semantics. Spark round-trips are slow,
so examples are capped; the properties cover the algebra the hand-picked
cases can't: arbitrary key/ts distributions, duplicate keys, negative gaps.
"""

from __future__ import annotations

import pytest

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.operators.joins import interval_join
from flinkrealtimedatawarehouse_spark.operators.merge import upsert_latest
from flinkrealtimedatawarehouse_spark.operators.scale import salted_agg

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_T0 = datetime(2024, 1, 1)


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=12),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 30)), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_interval_join_matches_bruteforce(spark, left, right):
    """J1/J2 equals the quadratic definition: pairs with equal key and
    r.ts in [l.ts - 5 s, l.ts + 5 s], bounds inclusive."""
    ldf = spark.createDataFrame(
        [(k, _T0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "lk long, lts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _T0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(right)],
        "rk long, rts timestamp, rid long",
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(
            ldf, rdf, ("lk", "rk"), ("lts", "rts"), "'-5' SECOND", "'5' SECOND"
        ).collect()
    }
    want = {
        (li, ri)
        for li, (lk, ls) in enumerate(left)
        for ri, (rk, rs) in enumerate(right)
        if lk == rk and ls - 5 <= rs <= ls + 5
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-100, 100)), min_size=0, max_size=25
    ),
    n_salts=st.integers(1, 8),
)
@settings(**_SETTINGS)
def test_salted_agg_equals_plain_groupby(spark, rows, n_salts):
    """x1: two-stage salted aggregation is exactly groupBy for every
    decomposable measure, for any salt fan-out."""
    df = spark.createDataFrame([(k, v) for k, v in rows] or [(0, 0)], "k long, v long")
    if not rows:
        df = df.limit(0)
    out = salted_agg(
        df, ["k"],
        {"s": ("v", "sum"), "c": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
        n_salts=n_salts,
    )
    got = {r["k"]: (r["s"], r["c"], r["mn"], r["mx"]) for r in out.collect()}
    want = {}
    for k, v in rows:
        s, c, mn, mx = want.get(k, (0, 0, None, None))
        want[k] = (s + v, c + 1, v if mn is None else min(mn, v), v if mx is None else max(mx, v))
    assert got == want


@given(
    base=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=0, max_size=10),
    updates=st.lists(st.tuples(st.integers(0, 5), st.integers(6, 11)), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_upsert_latest_is_idempotent_and_newest_wins(spark, base, updates):
    """K3: applying the same update batch twice equals applying it once,
    and every surviving row is the max-version row of its key (updates
    always out-version the snapshot here, so winners are deterministic)."""
    snap = spark.createDataFrame(base or [(0, 0)], "id long, ver long")
    if not base:
        snap = snap.limit(0)
    upd = spark.createDataFrame(updates or [(0, 6)], "id long, ver long")
    if not updates:
        upd = upd.limit(0)

    once = upsert_latest(snap, upd, "id", "ver")
    twice = upsert_latest(once, upd, "id", "ver")
    as_rows = lambda df: sorted((r["id"], r["ver"]) for r in df.collect())
    assert as_rows(once) == as_rows(twice)

    want: dict[int, int] = {}
    for i, v in base + updates:
        want[i] = max(want.get(i, -1), v)
    assert dict(as_rows(once)) == want


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["cat", "dog", "fox", "owl", "bee", "ant"]), min_size=3, max_size=12),
        min_size=2, max_size=8,
    ),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_jaccard_verify_matches_python_sets(spark, texts):
    """dp4's Jaccard over hashed shingle sets equals Python-set Jaccard
    over string shingles for explicit all-pairs (hash collisions in a
    30-bit space over <=10 shingles are effectively impossible)."""
    from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import (
        jaccard_verify,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, "doc_id", "text", shingle_n=3, k=2)
    ids = [r["doc_id"] for r in sigs.select("doc_id").collect()]
    pairs = [(a, b) for a in ids for b in ids if a < b]
    if not pairs:
        return
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_verify(pdf, sigs, "doc_id").collect()}

    def shingles(toks):
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    for a, b in pairs:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        want = round(len(sa & sb) / len(sa | sb), 6)
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=1, max_size=10),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40)), min_size=0, max_size=10),
)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """J7 equals pandas.merge_asof(direction='backward') on deduped right
    keys: per left row, the most recent right value at-or-before its ts."""
    import pandas as pd

    from flinkrealtimedatawarehouse_spark.operators.joins import asof_join

    # dedupe right on (key, ts) — asof_join documents deterministic matches
    # only for unique right timestamps per key (same contract as merge_asof)
    rdict = {(k, s): float(k * 100 + s) for k, s in right}
    ldf = spark.createDataFrame(
        [(k, _T0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _T0 + timedelta(seconds=s), v) for (k, s), v in rdict.items()],
        "rk long, rts timestamp, val double",
    )
    got = {
        r["lid"]: r["val"]
        for r in asof_join(ldf, rdf, ("k", "rk"), ("ts", "rts"), ["val"]).collect()
    }

    lpd = pd.DataFrame(
        [(k, _T0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        columns=["k", "ts", "lid"],
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        [(k, _T0 + timedelta(seconds=s), v) for (k, s), v in rdict.items()],
        columns=["k", "ts", "val"],
    ).sort_values("ts", kind="stable")
    if rpd.empty:
        want = {int(r.lid): None for r in lpd.itertuples()}
    else:
        m = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
        want = {
            int(r.lid): (None if pd.isna(r.val) else float(r.val))
            for r in m.itertuples()
        }
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=0, max_size=20
    ),
    gap=st.integers(1, 15),
)
@settings(**_SETTINGS)
def test_sessionize_matches_python_reference(spark, events, gap):
    """W4 equals the linear-scan definition: per key, sorted by ts, an
    event extends the current session iff ts - prev_ts <= gap
    (end-inclusive, the F.session_window semantics); duplicates at one
    ts always share a session."""
    from flinkrealtimedatawarehouse_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(k, _T0 + timedelta(seconds=s), i) for i, (k, s) in enumerate(events)] or
        [(0, _T0, 0)],
        "k long, ts timestamp, eid long",
    )
    if not events:
        df = df.limit(0)
    got = {r["eid"]: r["session_idx"] for r in sessionize(df, "k", "ts", gap, tiebreak="eid").collect()}

    want: dict[int, int] = {}
    by_key: dict[int, list] = {}
    for i, (k, s) in enumerate(events):
        by_key.setdefault(k, []).append((s, i))
    for k, evs in by_key.items():
        evs.sort()  # (ts, eid) — same tiebreak as the operator
        idx, prev = -1, None
        for s, i in evs:
            if prev is None or s - prev > gap:
                idx += 1
            want[i] = idx
            prev = s
    assert got == want


@given(
    stream=st.lists(st.integers(0, 15), min_size=1, max_size=60),
    cuts=st.lists(st.integers(1, 59), min_size=0, max_size=3, unique=True),
    m=st.integers(3, 20),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_misra_gries_invariants_any_stream_any_split(spark, tmp_path_factory, stream, cuts, m):
    """For arbitrary streams, capacities, and micro-batch splits: estimates
    never over-count, under-count by at most total_decrement, the
    decrement respects n/(m+1), and distinct<=m means exact counts."""
    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters

    base = str(tmp_path_factory.mktemp("mg"))
    bounds = sorted({c for c in cuts if c < len(stream)})
    slices, prev = [], 0
    for c in bounds + [len(stream)]:
        if c > prev:
            slices.append(stream[prev:c])
            prev = c

    sink = heavyhitters.MisraGriesSink(base, ["k"], m=m)
    sink.init(spark, "k bigint")
    for i, sl in enumerate(slices):
        sink.write_batch(
            spark.createDataFrame([(v,) for v in sl], "k bigint"), i
        )
    rows = sink.current(spark).collect()
    true = {}
    for v in stream:
        true[v] = true.get(v, 0) + 1

    assert len(rows) <= m
    d = rows[0].total_decrement if rows else 0
    assert d <= len(stream) / (m + 1)
    for r in rows:
        assert r.count_est <= true[r.k]
        assert r.count_est >= true[r.k] - d
    if len(true) <= m:
        assert d == 0
        assert {r.k: r.count_est for r in rows} == true


@given(
    changes=st.lists(
        st.tuples(
            st.integers(0, 3),              # pk
            st.integers(0, 50),             # value payload
            st.sampled_from(["u", "u", "u", "d"]),  # mostly upserts, some deletes
        ),
        min_size=0,
        max_size=15,
    ),
)
@settings(**_SETTINGS)
def test_scd2_current_rows_equal_sequential_fold(spark, changes):
    """SCD2 invariant: for ANY change sequence, the history's is_current
    rows equal folding the changes in version order over a Python dict
    (delete removes the key; a later upsert revives it), and every
    non-final change per key is closed by exactly the next version.

    (apply_cdc is NOT the reference here: it applies a batch's deletes
    after its upserts regardless of version order — the reference filters
    deletes upstream (P2), so in-batch delete-then-revive never reaches
    it; SCD2 must still order them correctly.)"""
    from flinkrealtimedatawarehouse_spark.operators.merge import scd2_history

    rows = [
        (pk, val, v, "delete" if op == "d" else "update")
        for v, (pk, val, op) in enumerate(changes)
    ]
    if not rows:
        return
    ch = spark.createDataFrame(rows, "pk long, val long, v long, type string")
    hist = scd2_history(ch, "pk", "v", type_col="type").collect()

    got = {(r.pk, r.val) for r in hist if r.is_current}
    state: dict[int, int] = {}
    next_v: dict[int, list[int]] = {}
    for pk, val, v, typ in rows:
        next_v.setdefault(pk, []).append(v)
        if typ == "delete":
            state.pop(pk, None)
        else:
            state[pk] = val
    assert got == set(state.items())

    # interval chaining: valid_to of change v is the key's next version
    for r in hist:
        seq = next_v[r.pk]
        i = seq.index(r.valid_from)
        want_to = seq[i + 1] if i + 1 < len(seq) else None
        assert r.valid_to == want_to


@given(
    old_rows=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), max_size=8,
                      unique_by=lambda t: t[0]),
    new_rows=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)), max_size=8,
                      unique_by=lambda t: t[0]),
)
@settings(**_SETTINGS)
def test_snapshot_diff_roundtrip_reconstructs_new(spark, old_rows, new_rows):
    """Changelog invariant: applying snapshot_diff(old, new) to old must
    reconstruct new exactly, for ANY pair of keyed snapshots."""
    from flinkrealtimedatawarehouse_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(old_rows or [(99, 0)], "pk long, v long")
    new = spark.createDataFrame(new_rows or [(98, 0)], "pk long, v long")
    diff = snapshot_diff(old, new, "pk", ["v"]).collect()

    state = {pk: v for pk, v in (old_rows or [(99, 0)])}
    for r in diff:
        if r.change_type == "delete":
            state.pop(r.pk)
        else:
            state[r.pk] = r.v
    assert state == {pk: v for pk, v in (new_rows or [(98, 0)])}
    # and the changelog is minimal: no row for an unchanged pk
    unchanged = {pk for pk, v in (old_rows or [(99, 0)])} & {
        pk for pk, v in (new_rows or [(98, 0)])
    }
    for r in diff:
        if r.change_type == "update":
            assert dict(old_rows)[r.pk] != dict(new_rows)[r.pk]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", ""]), max_size=5),
        min_size=1, max_size=6,
    ),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_line_dedup_preserves_distinct_lines_exactly(spark, docs):
    """line_dedup invariants for ANY corpus: every distinct non-blank
    normalized line survives exactly once; blanks all survive; surviving
    lines keep their original doc/position order."""
    from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    out = {r.doc_id: r.text for r in
           line_dedup(spark.createDataFrame(rows, "doc_id long, text string")).collect()}

    seen: set[str] = set()
    for i, lines in enumerate(docs):
        # reference first-occurrence walk in (doc_id, pos) order; a doc's
        # text round-trips through the same "\n" join/split
        want = []
        for ln in ("\n".join(lines)).split("\n"):
            norm = ln.strip().lower()
            if norm == "":
                want.append(ln)
            elif norm not in seen:
                want.append(ln)
                seen.add(norm)
        assert out[i] == "\n".join(want), (i, out[i], want)




@given(
    days=st.lists(st.tuples(st.integers(0, 20), st.integers(1, 99)),
                  min_size=1, max_size=10, unique_by=lambda t: t[0]),
)
@settings(**_SETTINGS)
def test_fill_gaps_dense_and_faithful(spark, days):
    """fill_gaps invariants for ANY daily series: the output covers every
    day in [min, max] exactly once; observed days keep their value with
    is_filled=0; synthesized days carry the previous observed value."""
    from flinkrealtimedatawarehouse_spark.operators.ads import fill_gaps

    rows = [(_T0 + timedelta(days=d), float(v)) for d, v in days]
    out = sorted(
        ((r.dt - _T0.date()).days, r.amount, r.is_filled)
        for r in fill_gaps(
            spark.createDataFrame(rows, "dt timestamp, amount double"), "dt", "amount"
        ).collect()
    )
    obs = dict(days)
    lo, hi = min(obs), max(obs)
    assert [d for d, _, _ in out] == list(range(lo, hi + 1))
    last = None
    for d, amount, filled in out:
        if d in obs:
            assert (amount, filled) == (float(obs[d]), 0)
            last = float(obs[d])
        else:
            assert (amount, filled) == (last, 1)


# --- repeated token spans == Python reference over random corpora ---------

@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    ),
    w=st.integers(2, 4),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_repeated_spans_equal_python_reference(spark, docs, w):
    # tiny alphabet + short docs force window-hash collisions-by-content
    # (true repeats) across and within docs
    from tests.test_datapipeline import _py_repeated_spans

    rows = [(i + 1, " ".join(toks)) for i, toks in enumerate(docs)]
    expect = _py_repeated_spans(rows, w)
    from flinkrealtimedatawarehouse_spark.datapipeline.textdedup import repeated_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_coverage)
        for r in repeated_spans(df, "doc_id", "text", w).collect()
    }
    assert got == expect


# --- streamed serving indexes: split invariance over random corpora --------

_IDX_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _split_rows(rows, cuts):
    bounds = sorted({c for c in cuts if c < len(rows)})
    slices, prev = [], 0
    for c in bounds + [len(rows)]:
        if c > prev:
            slices.append(rows[prev:c])
            prev = c
    return slices


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "zeta"]),
                 min_size=0, max_size=8),
        min_size=1, max_size=16,
    ),
    cuts=st.sets(st.integers(1, 15), max_size=3),
)
@settings(**_IDX_SETTINGS)
@pytest.mark.slow
def test_streamed_postings_split_invariant(spark, tmp_path_factory, docs, cuts):
    """For ANY corpus and ANY micro-batch split, the stream-maintained
    postings index answers the query exactly like direct bm25_search over
    the whole corpus — the algebraic claim behind the dp25 sindex gate
    (additive integer stats + append-only postings + query-time df)."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textstats
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs, start=1)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    q = "alpha zeta"
    if not any("alpha" in t or "zeta" in t for _, t in rows):
        return  # nothing to rank either way; search still needs >=1 committed batch

    base = str(tmp_path_factory.mktemp("pidx"))
    sink = PostingsIndexSink(base, "doc_id", "text", n_buckets=4)
    for i, sl in enumerate(_split_rows(rows, cuts)):
        sink.write_batch(spark.createDataFrame(sl, "doc_id long, text string"), i)

    direct = textstats.bm25_search(d, "doc_id", "text", q, k=10).collect()
    got = streamed_postings_search(spark, base, "doc_id", q, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in direct]


@given(
    vecs=st.lists(
        # includes zero vectors and cells whose integer centroid sums
        # cancel to zero — the guarded zero-norm convention (cosine 0.0)
        # must hold identically on both the batch and streamed paths
        st.lists(st.integers(-9, 9), min_size=3, max_size=3),
        min_size=2, max_size=14,
    ),
    cuts=st.sets(st.integers(1, 13), max_size=3),
)
@settings(**_IDX_SETTINGS)
@pytest.mark.slow
def test_streamed_ivf_split_invariant(spark, tmp_path_factory, vecs, cuts):
    """For ANY vector corpus (zero vectors included) and ANY micro-batch
    split: folded centroids are BIT-equal to the batch definition
    (integer-sum associativity) and the streamed search equals in-memory
    ivf_topk over the full corpus."""
    from flinkrealtimedatawarehouse_spark.datapipeline import similarity
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import (
        IvfIndexSink,
        streamed_ivf_topk,
    )

    schema = "vec_id long, embedding array<double>, label int"
    rows = [(i, [v / 10.0 for v in vec], i % 2)
            for i, vec in enumerate(vecs, start=1)]
    emb = spark.createDataFrame(rows, schema)
    probes = emb.filter(F.col("vec_id") <= 2)

    base = str(tmp_path_factory.mktemp("vidx"))
    sink = IvfIndexSink(base, "vec_id", "embedding", "label")
    for i, sl in enumerate(_split_rows(rows, cuts)):
        sink.write_batch(spark.createDataFrame(sl, schema), i)

    batch_cent = {
        r.cell: list(r.cvec)
        for r in similarity._cell_centroids(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("cell"),
                similarity.quantized(F.col("embedding")).alias("qn"),
            )
        ).collect()
    }
    folded = {r.cell: list(r.cvec) for r in sink.centroids(spark).collect()}
    assert folded == batch_cent

    direct = similarity.ivf_topk(
        emb, probes, "vec_id", "embedding", "label", k=3, n_probe=1
    ).collect()
    got = streamed_ivf_topk(spark, sink, probes, k=3, n_probe=1).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in direct]


@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 2),          # template id: 3 possible texts
            st.booleans(),              # mutate tail word?
        ),
        min_size=4, max_size=24,
    ),
    cap=st.integers(2, 6),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_capped_lsh_pairs_subset_and_megacluster_connected(spark, docs, cap):
    """Representative-chaining algebra, for ANY corpus and cap:
    (1) a capped run's candidate pairs are a SUBSET of the uncapped run's
    (chaining only selects witness pairs, never invents collisions), and
    (2) every member of an over-cap bucket still reaches the bucket's
    representative — min id on even bands, max id on odd (the round-11
    rotation) — one hop, so connectivity through that bucket is
    preserved (the megacluster recall guarantee)."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup

    templates = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet colors",
    ]
    rows = [
        (i, templates[t] + (" mutated" if m else ""))
        for i, (t, m) in enumerate(docs)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = textdedup.minhash_signatures(d, "doc_id", "text", 3, 8).persist()
    try:
        uncapped = {(r.id_a, r.id_b) for r in
                    textdedup.lsh_candidate_pairs(sigs, "doc_id", 4, 2).collect()}
        capped = {(r.id_a, r.id_b) for r in
                  textdedup.lsh_candidate_pairs(
                      sigs, "doc_id", 4, 2, hot_bucket_cap=cap).collect()}
        assert capped <= uncapped
        # per over-cap bucket: every member pairs with the band's rep
        bands = textdedup.lsh_band_rows(sigs, "doc_id", 4, 2).collect()
        buckets: dict = {}
        for r in bands:
            buckets.setdefault((r.band_idx, r.band_key), []).append(r.doc_id)
        for (band_idx, _), members in buckets.items():
            if len(members) > cap:
                rep = min(members) if band_idx % 2 == 0 else max(members)
                for m_id in members:
                    if m_id != rep:
                        pair = (min(rep, m_id), max(rep, m_id))
                        assert pair in capped, (pair, band_idx, len(members))
    finally:
        sigs.unpersist()


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 2), st.booleans()),
        min_size=4, max_size=20,
    ),
    cap=st.integers(2, 6),
)
@settings(**_SETTINGS)
@pytest.mark.slow
def test_capped_simhash_and_embedding_keep_megacluster_connected(spark, docs, cap):
    """The chaining algebra holds for the SimHash and embedding-cosine
    families too: capped verified pairs are a subset of uncapped, and in
    any over-cap bucket every member is chained — SimHash via the
    round-14 sorted-neighbor chain (segment chains + segment-head chain
    over the rotated sort key), the bandless embedding family against
    BOTH the min- and max-id member (the verify stage may still reject a
    witness pair on its own merits — subset, not equality, is the
    invariant on the verified output; max_hamming=32 / threshold=-1
    below make verify a no-op so the laws are exact here)."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup

    templates = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet colors",
    ]
    rows = [
        (i, templates[t] + (" mutated" if m else ""))
        for i, (t, m) in enumerate(docs)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # max_hamming=32: every candidate passes verify, so the pair sets ARE
    # the candidate sets and the subset/witness laws are exact
    unc = {(r.id_a, r.id_b) for r in
           textdedup.simhash_near_dups(d, "doc_id", "text", max_hamming=32).collect()}
    cap_pairs = {(r.id_a, r.id_b) for r in
                 textdedup.simhash_near_dups(
                     d, "doc_id", "text", max_hamming=32, hot_bucket_cap=cap).collect()}
    assert cap_pairs <= unc
    bands = textdedup._simhash_band_rows(
        textdedup.simhash(d, "doc_id", "text"), "doc_id").collect()
    n_bands = textdedup.SIMHASH_BITS // textdedup.SIMHASH_BAND_BITS
    buckets: dict = {}
    for r in bands:
        buckets.setdefault((r.band_idx, r.band_val), []).append(
            (r.doc_id, r.simhash))
    for (band_idx, _), mem in buckets.items():
        if len(mem) > cap:
            # sorted-neighbor chain law (round 14): rotate each member's
            # simhash so band (band_idx+1) is the lowest byte; members
            # chain within their segment (band_idx+3's byte) in
            # (rotk, id) order, segment heads chain across the bucket —
            # exactly c-1 witness pairs, every one present
            bb = textdedup.SIMHASH_BAND_BITS
            bits = textdedup.SIMHASH_BITS

            def rot(sh):
                k = ((band_idx + 1) % n_bands) * bb
                return (sh >> k) | ((sh & ((1 << k) - 1)) << (bits - k))

            segs: dict = {}
            for m_id, sh in mem:
                sv = (sh >> (((band_idx + 3) % n_bands) * bb)) & 255
                segs.setdefault(sv, []).append((rot(sh), m_id))
            expected = []
            heads = []
            for smem in segs.values():
                smem.sort()
                heads.append(min(smem))
                for (_, a), (_, b) in zip(smem, smem[1:]):
                    expected.append((min(a, b), max(a, b)))
            heads.sort()
            for (_, a), (_, b) in zip(heads, heads[1:]):
                expected.append((min(a, b), max(a, b)))
            assert len(expected) == len(mem) - 1  # the priced count
            for pair in expected:
                assert pair in cap_pairs, (pair, band_idx)

    # embedding twin: vectors derived from the template id (identical
    # within a template -> one sign bucket per template), threshold -1
    # accepts every candidate for the same exactness reason
    from flinkrealtimedatawarehouse_spark.datapipeline.similarity import (
        hyperplane_bucket,
        quantized,
    )

    vecs = [
        (i, [float(t + 1), float(t) - 0.5, 0.25 * (t + 1), -1.0 + t])
        for i, (t, _m) in enumerate(docs)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    unc_e = {(r.id_a, r.id_b) for r in
             textdedup.embedding_near_dups(
                 emb, "vec_id", "embedding", threshold=-1.0, n_planes=4).collect()}
    cap_e = {(r.id_a, r.id_b) for r in
             textdedup.embedding_near_dups(
                 emb, "vec_id", "embedding", threshold=-1.0, n_planes=4,
                 hot_bucket_cap=cap).collect()}
    assert cap_e <= unc_e
    rp = textdedup._ED_REFINE_PLANES  # mirror the implementation's rule:
    # refinement level k uses rp planes at offset n_planes + (k-1) * rp
    bk = emb.select(
        "vec_id",
        hyperplane_bucket(quantized(F.col("embedding"), 1000), 4).alias("b"),
        hyperplane_bucket(
            quantized(F.col("embedding"), 1000), rp, plane_offset=4
        ).alias("st1"),
        hyperplane_bucket(
            quantized(F.col("embedding"), 1000), rp, plane_offset=4 + rp
        ).alias("st2"),
    ).collect()
    ebuckets: dict = {}
    for r in bk:
        ebuckets.setdefault(r.b, []).append((r.vec_id, r.st1, r.st2))
    for mem in ebuckets.values():
        if len(mem) > cap:
            members = [m for m, _s1, _s2 in mem]
            lo, hi = min(members), max(members)
            for m_id in members:
                if m_id != lo:
                    assert (lo, m_id) in cap_e
                if m_id != hi:
                    assert (m_id, hi) in cap_e
            # recursive-refinement law (round 12, depth 2): <= cap level-1
            # strata run all-pairs; still-hot ones split by level 2 —
            # <= cap sub-strata all-pairs, leftovers chain member -> group
            # min -> bucket's min-id end
            strata: dict = {}
            for m_id, s1, s2 in mem:
                strata.setdefault(s1, []).append((m_id, s2))
            for smem in strata.values():
                sids = [m for m, _s in smem]
                if len(sids) <= cap:
                    for x in sids:
                        for y in sids:
                            if x < y:
                                assert (x, y) in cap_e
                    continue
                sub: dict = {}
                for m_id, s2 in smem:
                    sub.setdefault(s2, []).append(m_id)
                for ssmem in sub.values():
                    if len(ssmem) <= cap:
                        for x in ssmem:
                            for y in ssmem:
                                if x < y:
                                    assert (x, y) in cap_e
                    else:
                        srep = min(ssmem)
                        for m_id in ssmem:
                            if m_id != srep:
                                assert (srep, m_id) in cap_e
                        if srep != lo:
                            assert (min(lo, srep), max(lo, srep)) in cap_e


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=0, max_size=14,
    ),
    cut=st.integers(0, 14),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.slow
def test_cluster_upkeep_index_superset_and_batch_cc(
        spark, tmp_path_factory, edges, cut):
    """Streaming cluster-upkeep law, for ANY edge set and ANY 2-batch
    split: after EVERY batch (a) the label table equals batch CC over the
    pair prefix, and (b) for every label row (id, c) the secondary index
    holds (c, pid(id)) — the SUPERSET invariant the membership-probe
    pruning rests on (one missing entry = an absorbed member silently
    left behind forever)."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup
    from flinkrealtimedatawarehouse_spark.streaming.clusters import (
        ClusterUpkeepSink,
    )

    d = str(tmp_path_factory.mktemp("clprop"))
    sink = ClusterUpkeepSink(d, "doc_id", n_partitions=4)
    prefix: list[tuple[int, int]] = []
    for bid, pb in enumerate([edges[:cut], edges[cut:]]):
        sink.write_batch(
            spark.createDataFrame(pb, "id_a long, id_b long"), bid
        )
        prefix.extend(e for e in pb if e[0] != e[1])
        got = {(r.doc_id, r.cluster)
               for r in sink.clusters(spark).collect()}
        touched = sorted({x for e in prefix for x in e})
        if touched:
            want = {
                (r.doc_id, r.cluster)
                for r in textdedup.dedup_clusters(
                    spark.createDataFrame(prefix, "id_a long, id_b long"),
                    spark.createDataFrame([(i,) for i in touched],
                                          "doc_id long"),
                    "doc_id",
                ).collect()
            }
        else:
            want = set()
        assert got == want
        labels = (sink.current(spark)
                  .withColumn("pid", sink.pid_expr())
                  .select("cluster", "pid"))
        missing = labels.join(sink.pidx.current(spark),
                              ["cluster", "pid"], "left_anti").count()
        assert missing == 0


@pytest.fixture(scope="module")
def folded_postings_store(spark, tmp_path_factory):
    """A streamed postings store whose retained versions straddle a
    fold: 6 batches at max_runs=4 (compact_every=1, keep_recent=3), so
    the commit of batch 4 folds and versions 4..6 stay readable."""
    import random

    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
    )

    random.seed(43)
    vocab = ["alpha", "beta", "gamma", "delta", "zeta", "omega"]
    sink = PostingsIndexSink(str(tmp_path_factory.mktemp("pruned")), "doc_id",
                             "text", n_buckets=8, compact_every=1, keep_recent=3)
    for bid in range(6):
        rows = [(bid * 3 + i, " ".join(random.choices(vocab, k=6)))
                for i in range(3)]
        sink.write_batch(spark.createDataFrame(rows, "doc_id long, text string"),
                         bid)
    store = sink.store
    folded = {
        v: any(r["n"].startswith("f")
               for runs in store._load_manifest(v)["parts"].values() for r in runs)
        for v in range(store.min_version, store.version + 1)
    }
    assert not all(folded.values()) and any(folded.values())
    return store, folded


@given(
    sel=st.lists(st.integers(-2, 10), max_size=10),  # dups; 8.. and <0 absent
    as_of=st.one_of(st.none(), st.integers(-1, 5)),
    pick=st.integers(0, 2),
)
@settings(**_SETTINGS)
def test_pruned_read_equals_filtered_full_read(spark, folded_postings_store,
                                               sel, as_of, pick):
    """``read_parts(sel)`` plus the as-of batch filter returns exactly the
    rows of the full read at that version filtered to the same
    partitions and batches — for any selection (duplicates and absent
    partitions included), every horizon, before and after a fold."""
    store, folded = folded_postings_store
    versions = sorted(folded)
    version = versions[pick % len(versions)]
    cols = ["doc_id", "dl", "term", "tf", "batch"]

    def batches(df):
        return df if as_of is None else df.filter(F.col("batch") <= as_of)

    got = batches(store.read_parts(spark, sel, version=version))
    full = store.read_version(spark, version)
    want = batches(full.filter(store.pid_expr().isin(sel)))
    assert (sorted(tuple(r) for r in got.select(*cols).collect())
            == sorted(tuple(r) for r in want.select(*cols).collect()))
