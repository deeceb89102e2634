"""PartitionedSnapshotStore contract tests: the incremental (MERGE-backed)
snapshot backend that replaced full-table rewrites for the keyed-state
sinks (streaming/partstore.py). Covers the delta-commit/merge-on-read
algebra, as-of manifests, size-tiered folds, reference-based vacuum, the
replay/fence guards, and the crash windows specific to the new layout:
between run renames and the manifest write, and between the manifest
write and the marker commit (both orders the r11 verdict demanded)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.streaming.partstore import (
    PartitionedSnapshotStore,
    group_latest,
    latest_wins,
    min_merge,
)


def _store(base, merge=None, **kw):
    kw.setdefault("n_partitions", 4)
    kw.setdefault("max_runs", 3)
    return PartitionedSnapshotStore(
        base, key_cols=["k"], merge_fn=merge or min_merge(["k"], ["v"]), **kw
    )


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _init(spark, s):
    s.snapshot_init(_kv(spark, []))
    return s


def _state(spark, s, version=None):
    df = s.current(spark) if version is None else s.read_version(spark, version)
    return {r.k: r.v for r in df.collect()}


def test_commit_and_min_merge_roundtrip(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "s")))
    s.commit_batch(_kv(spark, [("a", 5), ("b", 2)]), 0)
    s.commit_batch(_kv(spark, [("a", 3), ("c", 9)]), 1)
    s.commit_batch(_kv(spark, [("a", 7), ("b", 1)]), 2)  # a=7 loses to 3
    assert _state(spark, s) == {"a": 3, "b": 1, "c": 9}
    # as-of: each version is the min-merge of the delta prefix
    assert _state(spark, s, 0) == {}
    assert _state(spark, s, 1) == {"a": 5, "b": 2}
    assert _state(spark, s, 2) == {"a": 3, "b": 2, "c": 9}
    assert s.versions() == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="not available"):
        s.read_version(spark, 4)


def test_latest_wins_merge_is_order_free(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "lw"), merge=latest_wins(["k"], ["v"])))
    s.commit_batch(_kv(spark, [("a", 1), ("b", 1)]), 0)
    s.commit_batch(_kv(spark, [("a", 2)]), 1)
    s.commit_batch(_kv(spark, [("a", 3), ("c", 1)]), 2)
    assert _state(spark, s) == {"a": 3, "b": 1, "c": 1}
    assert _state(spark, s, 2) == {"a": 2, "b": 1}
    # upsert to a SMALLER value must still win (not min semantics)
    s.commit_batch(_kv(spark, [("c", 0)]), 3)
    assert _state(spark, s)["c"] == 0


def test_write_volume_is_delta_not_state(spark, tmp_path):
    """The r11 verdict's acceptance shape: per-commit write bytes track
    the delta, never the accumulated state. Build up a state ~40x one
    batch; the next same-sized delta's write bytes must stay a small
    fraction of state bytes (fold commits are the amortized exception
    and are reported separately)."""
    s = _init(spark, _store(str(tmp_path / "wv"), max_runs=64))
    rows = lambda b: [(f"k{b}_{i}", i) for i in range(50)]  # noqa: E731
    stats = [s.commit_batch(_kv(spark, rows(b)), b) for b in range(8)]
    state_bytes = s.state_bytes()
    last = stats[-1]
    assert last["fold_bytes"] == 0  # max_runs high: no fold in this test
    assert last["delta_bytes"] < state_bytes / 4
    # delta bytes are flat across commits while state grows monotonically
    sizes = [st["delta_bytes"] for st in stats]
    assert max(sizes) < 2 * min(sizes)


def test_fold_bounds_runs_and_preserves_reads(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "fold"), n_partitions=2, max_runs=3))
    want: dict[str, int] = {}
    per_version = []
    for b in range(10):
        delta = [(f"k{i}", b * 10 + i) for i in range(6)]  # overlapping keys
        for k, v in delta:
            want[k] = min(want.get(k, 1 << 60), v)
        s.commit_batch(_kv(spark, delta), b)
        per_version.append(dict(want))
    # run counts bounded by the fold policy in the CURRENT manifest
    parts = s._load_manifest(s.version)["parts"]
    assert parts and all(len(runs) <= s.max_runs for runs in parts.values())
    assert _state(spark, s) == want
    # every as-of read still equals the prefix min-merge (folds rewrote
    # the current manifest only; history reads old runs)
    for b in range(10):
        assert _state(spark, s, b + 1) == per_version[b], b


def test_vacuum_reference_gc(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "vac"), max_runs=10))
    for b in range(6):
        s.commit_batch(_kv(spark, [(f"k{b}", b)]), b)
    full = _state(spark, s)
    removed = s.vacuum(keep_last=2)
    # early delta runs are still referenced by the RETAINED manifests
    # (nothing folded), so nothing may be deleted
    assert removed == []
    assert s.versions() == [5, 6]
    with pytest.raises(ValueError, match="not available"):
        s.read_version(spark, 4)
    assert _state(spark, s) == full
    # manifests below the horizon are gone
    assert not os.path.exists(s._manifest_path(0))


def test_vacuum_collects_folded_away_runs(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "vacf"), n_partitions=1, max_runs=2))
    for b in range(6):  # folds fire repeatedly at max_runs=2
        s.commit_batch(_kv(spark, [(f"k{b}", b), ("shared", b)]), b)
    full = _state(spark, s)
    assert s.vacuum(keep_last=1)  # old manifests drop -> folded-away runs GC
    assert _state(spark, s) == full
    # only the current manifest's runs survive on disk
    live = {os.path.basename(p) for p in s._run_paths(s.version)}
    on_disk = set(os.listdir(os.path.join(str(tmp_path / "vacf"), "p0000")))
    assert on_disk == live


def test_replay_guard_and_empty_delta_version(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "rg")))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    assert s.seen(0)
    # an empty delta still advances exactly one version (batch<->version
    # bookkeeping must not skid on quiet batches)
    v = s.version
    s.commit_batch(_kv(spark, []), 1)
    assert s.version == v + 1 and s.seen(1)
    assert _state(spark, s) == {"a": 1}


def test_restart_recovers_and_layout_params_are_pinned(spark, tmp_path):
    base = str(tmp_path / "re")
    s = _init(spark, _store(base))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    s2 = _store(base)
    assert s2.version == s.version and s2.last_bid == 0
    assert _state(spark, s2) == {"a": 1}
    with pytest.raises(ValueError, match="n_partitions"):
        PartitionedSnapshotStore(base, key_cols=["k"],
                                 merge_fn=min_merge(["k"], ["v"]),
                                 n_partitions=16)
    with pytest.raises(ValueError, match="keyed on"):
        PartitionedSnapshotStore(base, key_cols=["other"],
                                 merge_fn=min_merge(["other"], ["v"]),
                                 n_partitions=4)


def test_schema_evolution_per_version(spark, tmp_path):
    """A delta may ADD columns (dim schema evolution): later reads
    null-fill older runs, the manifest records the schema PER VERSION so
    as-of reads keep the column set as it stood then, and a delta missing
    stored columns gets them null-filled (the old backend's
    unionByName(allowMissingColumns) semantics)."""
    # group_latest is the merge evolving sinks use: it passes ALL columns
    # through (a val-col-list merge like latest_wins pins its columns)
    s = _init(spark, _store(str(tmp_path / "evo"), merge=group_latest(["k"])))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    wide = spark.createDataFrame([("b", 2, "x")], "k string, v long, extra string")
    s.commit_batch(wide, 1)
    cur = s.current(spark)
    assert cur.columns == ["k", "v", "extra"]
    got = {r.k: (r.v, r.extra) for r in cur.collect()}
    assert got == {"a": (1, None), "b": (2, "x")}
    # as-of version 1 (before the evolving delta) keeps the old schema
    assert s.read_version(spark, 1).columns == ["k", "v"]
    # a later delta MISSING the evolved column null-fills it
    s.commit_batch(_kv(spark, [("c", 3)]), 2)
    got3 = {r.k: (r.v, r.extra) for r in s.current(spark).collect()}
    assert got3 == {"a": (1, None), "b": (2, "x"), "c": (3, None)}
    # restart recovers the evolved schema
    s2 = _store(str(tmp_path / "evo"), merge=group_latest(["k"]))
    assert s2.current(spark).columns == ["k", "v", "extra"]


def test_fold_across_schema_evolution_keeps_evolved_column(spark, tmp_path):
    """ADVICE r12 (high): a size-tiered fold whose inputs span a
    schema-evolution boundary must read with mergeSchema and align to the
    current version's schema — a plain multi-path read infers the schema
    from one arbitrary footer and can silently drop the evolved column
    from the folded run. n_partitions=1 + max_runs=2 forces the fold to
    mix pre- and post-evolution runs."""
    s = _init(spark, _store(str(tmp_path / "fevo"), merge=group_latest(["k"]),
                            n_partitions=1, max_runs=2))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    s.commit_batch(_kv(spark, [("b", 2)]), 1)
    wide = spark.createDataFrame([("c", 3, "x")], "k string, v long, extra string")
    stats = s.commit_batch(wide, 2)  # 3 runs > max_runs=2 -> fold fires
    assert stats["fold_bytes"] > 0, "test must exercise the fold path"
    # every run referenced by the current manifest is now fold-mixed;
    # the evolved column must survive with its values intact
    cur = s.current(spark)
    assert cur.columns == ["k", "v", "extra"]
    got = {r.k: (r.v, r.extra) for r in cur.collect()}
    assert got == {"a": (1, None), "b": (2, None), "c": (3, "x")}
    # keep folding past the boundary: another commit re-folds the folded
    # run together with the evolving delta's run
    s.commit_batch(_kv(spark, [("d", 4)]), 3)
    got2 = {r.k: (r.v, r.extra) for r in s.current(spark).collect()}
    assert got2 == {"a": (1, None), "b": (2, None), "c": (3, "x"),
                    "d": (4, None)}


def test_evolving_delta_rejected_on_pinned_merge(spark, tmp_path):
    """ADVICE r12: min/struct/latest merges pin their value-column list,
    so an evolved column would be written to runs yet dropped from every
    merged read — accepted on write, invisible on read. The store must
    reject it loudly instead."""
    for merge in (min_merge(["k"], ["v"]), latest_wins(["k"], ["v"])):
        base = str(tmp_path / f"pin-{getattr(merge, '__qualname__', id(merge))}")
        s = _init(spark, _store(base, merge=merge))
        s.commit_batch(_kv(spark, [("a", 1)]), 0)
        wide = spark.createDataFrame(
            [("b", 2, "x")], "k string, v long, extra string"
        )
        with pytest.raises(ValueError, match="pins its value-column list"):
            s.commit_batch(wide, 1)
        # the rejected commit must not have advanced state
        assert _state(spark, s) == {"a": 1}
        assert s.version == 1


def test_repartitioned_migration_carries_contract(spark, tmp_path):
    """VERDICT r12 task #5: n_partitions is pinned at creation, so a
    store that outgrows its P needs a migration path. repartitioned()
    must: re-hash the merged state losslessly, carry version/last_bid
    (replay guards + one-version-per-batch as-of keep working), leave
    pre-migration history with the source, keep accepting commits with
    correct merge semantics, and never mutate the source."""
    s = _init(spark, _store(str(tmp_path / "src"), n_partitions=2))
    s.commit_batch(_kv(spark, [("a", 5), ("b", 2)]), 0)
    s.commit_batch(_kv(spark, [("a", 3), ("c", 9)]), 1)
    before = _state(spark, s)
    src_manifest = json.dumps(s._load_manifest(s.version), sort_keys=True)

    m = s.repartitioned(spark, str(tmp_path / "dst"), n_partitions=8)
    assert _state(spark, m) == before
    assert (m.version, m.min_version, m.last_bid) == (2, 2, 1)
    assert m.meta["repartitioned_from"] == s.base_dir
    # pre-migration history stays with the source store
    with pytest.raises(ValueError, match="not available"):
        m.read_version(spark, 1)
    assert _state(spark, s, 1) == {"a": 5, "b": 2}
    # replay guard carried: the last applied batch is still 'seen'
    assert m.seen(1) and not m.seen(2)
    # future commits keep min-merge semantics against the migrated state
    m.commit_batch(_kv(spark, [("a", 9), ("d", 1)]), 2)  # a=9 loses to 3
    assert _state(spark, m) == {"a": 3, "b": 2, "c": 9, "d": 1}
    # partition-pruned reads route by the NEW hash
    probe = _kv(spark, [("a", 0)])
    assert _state_sub(spark, m, probe) == {"a": 3}
    # the source was never mutated
    assert json.dumps(s._load_manifest(2), sort_keys=True) == src_manifest
    # a restart handle on the migrated dir recovers everything
    m2 = _store(str(tmp_path / "dst"), n_partitions=8)
    assert (m2.version, m2.last_bid) == (3, 2)
    assert _state(spark, m2) == {"a": 3, "b": 2, "c": 9, "d": 1}
    # a second migration into the same target must refuse
    with pytest.raises(ValueError, match="already holds"):
        s.repartitioned(spark, str(tmp_path / "dst"), n_partitions=8)


def test_repartitioned_refuses_pid_expr_override(spark, tmp_path):
    """ADVICE r13: repartitioned() routes the migrated rows with the
    BASE pid_expr and opens the target as a base-class store; a subclass
    with its own routing (the cluster secondary index hashes the cluster
    value only) would re-open the target expecting its OWN routing and
    silently miss rows on pruned reads. Such derived stores must be
    rebuilt, not migrated — the guard makes that loud."""
    from pyspark.sql import functions as F

    class _CustomRouted(PartitionedSnapshotStore):
        def pid_expr(self):
            return F.pmod(F.xxhash64("v"), F.lit(self.n_partitions)).cast("int")

    s = _CustomRouted(str(tmp_path / "custom"), key_cols=["k"],
                      merge_fn=min_merge(["k"], ["v"]), n_partitions=2)
    s.snapshot_init(_kv(spark, []))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    with pytest.raises(TypeError, match="overrides pid_expr"):
        s.repartitioned(spark, str(tmp_path / "dst"), n_partitions=8)
    # the real derived store in the package hits the same guard
    from flinkrealtimedatawarehouse_spark.streaming.clusters import (
        _ClusterPidIndex,
    )

    idx = _ClusterPidIndex(str(tmp_path / "pidx"), n_partitions=2)
    idx.snapshot_init(spark.createDataFrame([], "cluster long, pid int"))
    with pytest.raises(TypeError, match="rebuild the derived store"):
        idx.repartitioned(spark, str(tmp_path / "pidxdst"), n_partitions=8)


def test_skewed_key_distribution_degrades_gracefully(spark, tmp_path):
    """The other half of VERDICT r12 task #5: a hot key family
    concentrated in ONE partition must degrade gracefully — the hot
    partition's size-tiered folds keep its run count bounded, cold
    partitions never pay for them (no fold runs of their own), and reads
    stay correct throughout. Keys are CRAFTED to hash into one partition
    (xxhash-filtered), not routed by a test-only hash."""
    s = _init(spark, _store(str(tmp_path / "skew"), n_partitions=4,
                            max_runs=3))
    cand = spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    by_pid = cand.withColumn("p", s.pid_expr())
    hot = [r.k for r in by_pid.filter("p = 0").limit(60).collect()]
    cold = [r.k for r in by_pid.filter("p = 1").limit(3).collect()]
    assert len(hot) == 60 and len(cold) == 3
    expect: dict[str, int] = {}
    for b in range(12):  # every batch hits the hot partition; the cold
        rows = [(k, b) for k in hot[5 * b:5 * b + 5]]  # one only early on
        if b < len(cold):
            rows.append((cold[b], b))
        for k, v in rows:
            expect[k] = min(expect.get(k, v), v)
        s.commit_batch(_kv(spark, rows), b)
    assert _state(spark, s) == expect
    parts = s._load_manifest(s.version)["parts"]
    # hot partition: folds fired, run count stays bounded anyway
    assert any(r["n"].startswith("f") for r in parts["0"])
    for pid, runs in parts.items():
        assert len(runs) <= s.max_runs + 1, (pid, runs)
    # the cold partition never folded — folds are partition-local, so a
    # hot neighbor costs it nothing (its 3 runs sit under max_runs)
    assert parts["1"] and not any(
        r["n"].startswith("f") for r in parts["1"]
    ), parts["1"]
    # untouched partitions hold nothing at all
    for pid in parts:
        assert pid in ("0", "1"), parts.keys()


def test_repartition_crash_mid_migration_rerun_overwrites(spark, tmp_path):
    """A crash between the migration's data write and its single marker
    commit leaves a marker-less target dir; the docstring contract is
    that a re-run overwrites it cleanly and the source stays pristine."""
    s = _init(spark, _store(str(tmp_path / "src"), n_partitions=2))
    s.commit_batch(_kv(spark, [("a", 5), ("b", 2)]), 0)
    dst = str(tmp_path / "dst")

    orig = PartitionedSnapshotStore._commit
    def dying(self):
        if self.base_dir == dst:
            raise RuntimeError("injected mid-migration crash")
        return orig(self)
    PartitionedSnapshotStore._commit = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            s.repartitioned(spark, dst, n_partitions=8)
    finally:
        PartitionedSnapshotStore._commit = orig
    # half-written target: run dirs exist, no marker — unreadable, and
    # NOT mistaken for a committed store by the re-run's guard
    probe = PartitionedSnapshotStore(dst, key_cols=["k"],
                                     merge_fn=min_merge(["k"], ["v"]),
                                     n_partitions=8)
    assert probe.version == -1
    # the re-run claims the dir back (fencing the crashed attempt's
    # probe handle is fine — it was never a committed store)
    m = s.repartitioned(spark, dst, n_partitions=8)
    assert _state(spark, m) == {"a": 5, "b": 2}
    assert (m.version, m.last_bid) == (1, 0)
    assert _state(spark, s) == {"a": 5, "b": 2}  # source untouched


def _state_sub(spark, s, keys_df):
    df = s.read_parts(keys_df.sparkSession, s.pids_of(keys_df))
    return {r.k: r.v for r in df.join(keys_df.select("k"), "k").collect()}


def test_commit_snapshot_is_a_contract_error(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "cs")))
    with pytest.raises(TypeError, match="commit_batch"):
        s.commit_snapshot(_kv(spark, [("a", 1)]), 0)


def test_read_parts_prunes_to_key_partitions(spark, tmp_path):
    s = _init(spark, _store(str(tmp_path / "rp"), n_partitions=8))
    rows = [(f"k{i}", i) for i in range(40)]
    s.commit_batch(_kv(spark, rows), 0)
    probe = _kv(spark, rows[:3])
    pids = s.pids_of(probe)
    assert 0 < len(pids) <= 8
    got = {r.k for r in s.read_parts(spark, pids).collect()}
    # the probed keys are all present, and the read really pruned:
    # only the probed partitions' rows came back
    assert {"k0", "k1", "k2"} <= got
    full = {r.k for r in s.current(spark).collect()}
    if len(pids) < 8:
        assert got < full


# --- crash windows ---------------------------------------------------------


class _Crash(Exception):
    pass


def _arm(obj, attr):
    orig = getattr(obj, attr)
    armed = {"on": True}

    def crashing(*a, **kw):
        if armed["on"]:
            armed["on"] = False
            raise _Crash(f"died inside {attr}")
        return orig(*a, **kw)

    setattr(obj, attr, crashing)


def test_crash_between_manifest_and_marker_replays_clean(spark, tmp_path):
    """The widest window: runs + manifest landed, marker did not. The
    restart must expose the PREVIOUS version; the redelivery must land
    the batch exactly once, overwriting the orphaned run dirs."""
    base = str(tmp_path / "cmm")
    s = _init(spark, _store(base))
    s.commit_batch(_kv(spark, [("a", 5)]), 0)
    _arm(s, "_commit")
    with pytest.raises(_Crash):
        s.commit_batch(_kv(spark, [("a", 9), ("b", 2)]), 1)
    s2 = _store(base)  # restart
    assert s2.version == 1  # crashed commit invisible
    assert _state(spark, s2) == {"a": 5}
    s2.commit_batch(_kv(spark, [("a", 9), ("b", 2)]), 1)  # redeliver
    assert _state(spark, s2) == {"a": 5, "b": 2}
    assert s2.version == 2


def test_crash_between_renames_and_manifest_replays_clean(spark, tmp_path):
    """The OTHER order: run dirs published, manifest never written. The
    orphan runs are unreferenced by every manifest; the replay overwrites
    them in place (fence-checked rmtree+rename)."""
    base = str(tmp_path / "crm")
    s = _init(spark, _store(base))
    s.commit_batch(_kv(spark, [("a", 5)]), 0)
    _arm(s, "_write_manifest")
    with pytest.raises(_Crash):
        s.commit_batch(_kv(spark, [("b", 2)]), 1)
    # orphaned d000002 run dirs exist but no manifest references them
    orphans = [
        os.path.join(r, d)
        for r, dirs, _ in os.walk(base)
        for d in dirs
        if d == "d000002"
    ]
    assert orphans
    s2 = _store(base)
    assert s2.version == 1 and _state(spark, s2) == {"a": 5}
    s2.commit_batch(_kv(spark, [("b", 2)]), 1)
    assert _state(spark, s2) == {"a": 5, "b": 2}


def test_crash_in_stage_write_is_swept_on_reclaim(spark, tmp_path):
    base = str(tmp_path / "csw")
    s = _init(spark, _store(base))
    # fake a dead writer's stage residue
    residue = os.path.join(base, f"delta1.stage-{'0' * 32}")
    os.makedirs(residue)
    s2 = _store(base)  # new claimant sweeps .stage- residue
    assert not os.path.exists(residue)
    s2.commit_batch(_kv(spark, [("a", 1)]), 0)
    assert _state(spark, s2) == {"a": 1}


def test_fold_crash_before_manifest_rewrite_changes_nothing(spark, tmp_path):
    """A fold that dies after writing folded runs but before the manifest
    rewrite must leave reads bit-identical; the orphan folded runs are
    unreferenced and vacuum sweeps them."""
    base = str(tmp_path / "fcr")
    s = _init(spark, _store(base, n_partitions=1, max_runs=2))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    s.commit_batch(_kv(spark, [("b", 2)]), 1)
    # next commit exceeds max_runs -> fold fires; crash its manifest write
    # (the commit's own manifest write happens FIRST and must survive, so
    # arm after it: patch _write_manifest to crash only on the 2nd call)
    orig = s._write_manifest
    calls = {"n": 0}

    def crash_second(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise _Crash("died in fold manifest rewrite")
        return orig(*args, **kwargs)

    s._write_manifest = crash_second
    with pytest.raises(_Crash):
        s.commit_batch(_kv(spark, [("c", 3)]), 2)
    s2 = _store(base, n_partitions=1, max_runs=2)
    # the COMMIT landed (marker written before the fold runs); only the
    # fold was lost — state complete, orphan folded run swept by vacuum
    assert s2.version == 3
    assert _state(spark, s2) == {"a": 1, "b": 2, "c": 3}
    removed = s2.vacuum(keep_last=10)  # horizon keeps everything referenced
    assert any("f0000" in p for p in removed)
    assert _state(spark, s2) == {"a": 1, "b": 2, "c": 3}


def test_read_raced_by_fold_plus_vacuum_retries_clean(spark, tmp_path):
    """The store's reader hazard: a DataFrame
    planned over run files that a later fold + retention vacuum DELETES
    fails at execution and must succeed on retry with the pinned answer.
    (Without vacuum there is no hazard — folds leave replaced runs on
    disk for older manifests; retention is what makes deletes real.)"""
    base = str(tmp_path / "rrace")
    s = _init(spark, _store(base, n_partitions=1, max_runs=2,
                            retain_versions=1))
    for b in range(3):
        s.commit_batch(_kv(spark, [(f"k{b}", b)]), b)
    pinned = _state(spark, s)
    stale = s.current(spark)  # plan NOW: the file listing captures runs
    # that the next commits' folds + keep-last-1 vacuum will delete
    for b in range(3, 9):
        s.commit_batch(_kv(spark, [(f"k{b}", b)]), b)
    assert s.min_version > 3  # retention really slid past the stale plan
    with pytest.raises(Exception, match="(?i)file|path|exist"):
        stale.collect()
    got = _state(spark, s)  # the retry re-plans from the marker
    assert all(got[k] == v for k, v in pinned.items())
    assert len(got) == 9


def test_fenced_writer_cannot_commit(spark, tmp_path):
    base = str(tmp_path / "fw")
    s = _init(spark, _store(base))
    s.commit_batch(_kv(spark, [("a", 1)]), 0)
    s2 = _store(base)  # claims the dir; s is fenced
    with pytest.raises(RuntimeError, match="claimed by another writer"):
        s.commit_batch(_kv(spark, [("b", 2)]), 1)
    s2.commit_batch(_kv(spark, [("b", 2)]), 1)
    assert _state(spark, s2) == {"a": 1, "b": 2}
