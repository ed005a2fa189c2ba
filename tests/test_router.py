"""MultiTableReplayRunner (cdc/router.py): one WAL, many tables — the
reference's `python . etl <tables>` shape (etl/__main__.py:21-44).

Invariants under test:
- union of the routed tables' final states == the single-feed LWW oracle
  (DuckDB recompute over the raw WAL), and each table holds EXACTLY its
  routed slice;
- lockstep: every table's last_lsn agrees at every window boundary;
- crash mid-window / resume with a fresh runner converges to the
  uninterrupted state, exactly-once per (table, window) via the
  per-table ledgers;
- re-replay of a fully applied feed advances NO table's version;
- a target that receives zero events stays empty but tracks the feed
  position (metadata-only commits);
- unrouted events: error by default, counted drop on 'ignore'.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pasar_spark.cdc.router import MultiTableReplayRunner, UnroutedEvents
from pasar_spark.datagen import change_events, write_change_log

# Portable routing: both Spark and DuckDB derive the target from the
# conv_id's last digit, so the oracle can recompute the demux exactly.
ROUTE_SPARK = "concat('t', cast(substring(conv_id, -1, 1) as int) % 3)"
ROUTE_DUCK = "'t' || CAST(CAST(substr(conv_id, -1, 1) AS INT) % 3 AS VARCHAR)"
NAMES = ["t0", "t1", "t2"]


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("router") / "wal")
    write_change_log(
        change_events(spark, 6_000, n_convs=80, seed=31, delete_fraction=0.1),
        path,
        n_files=4,
    )
    return path


def _oracle_state(wal: str, route: str | None = None, name: str | None = None):
    where = f"AND {ROUTE_DUCK} = '{name}'" if route else ""
    return sorted(
        duckdb.connect().execute(
            f"""
            SELECT conv_id, turn_idx, ts, lsn FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY ts DESC, lsn DESC) rn
              FROM '{wal}/*.parquet') WHERE rn = 1 AND op <> 'D' {where}
            """
        ).fetchall()
    )


def _state(table):
    return sorted(
        tuple(r)
        for r in table.read().select("conv_id", "turn_idx", "ts", "lsn").collect()
    )


def _runner(spark, base, **kw):
    kw.setdefault("chunk_size", 1_500)
    return MultiTableReplayRunner(
        spark, base, NAMES, route_by=ROUTE_SPARK, n_buckets=4, **kw
    )


def test_demux_matches_oracle_per_table_and_union(spark, wal, tmp_path):
    tables = _runner(spark, str(tmp_path / "lake")).replay(wal)
    union = []
    for name in NAMES:
        part = _state(tables[name])
        assert part == _oracle_state(wal, ROUTE_DUCK, name), name
        union.extend(part)
    assert sorted(union) == _oracle_state(wal)


def test_lockstep_positions_and_ledger_ids(spark, wal, tmp_path):
    tables = _runner(spark, str(tmp_path / "lake")).replay(wal)
    lsns = {t.last_lsn for t in tables.values()}
    assert len(lsns) == 1, f"tables diverged: {lsns}"
    ids = {tuple(t.manifest["ledger"]["batch_ids"]) for t in tables.values()}
    assert len(ids) == 1  # identical window sequence on every target


def test_crash_resume_converges(spark, wal, tmp_path):
    ref = _runner(spark, str(tmp_path / "a")).replay(wal)
    _runner(spark, str(tmp_path / "b")).replay(wal, stop_after_chunks=2)
    resumed = _runner(spark, str(tmp_path / "b")).replay(wal)
    for name in NAMES:
        assert _state(resumed[name]) == _state(ref[name]), name


def test_rereplay_is_noop(spark, wal, tmp_path):
    base = str(tmp_path / "lake")
    t1 = _runner(spark, base).replay(wal)
    v1 = {n: t.version for n, t in t1.items()}
    t2 = _runner(spark, base).replay(wal)
    assert {n: t.version for n, t in t2.items()} == v1


def test_cold_target_tracks_position_without_data(spark, wal, tmp_path):
    """A configured table nothing routes to must stay empty yet keep the
    feed position (metadata-only commits), so adding it to a live group
    never anchors resume at lsn 0."""
    r = MultiTableReplayRunner(
        spark,
        str(tmp_path / "lake"),
        NAMES + ["cold"],
        route_by=ROUTE_SPARK,
        n_buckets=4,
        chunk_size=1_500,
    )
    tables = r.replay(wal)
    cold = tables["cold"]
    assert cold.read().count() == 0
    assert cold.last_lsn == tables["t0"].last_lsn
    assert not cold.manifest["buckets"] or all(
        not v for v in cold.manifest["buckets"].values()
    )


def test_unrouted_error_and_ignore(spark, wal, tmp_path):
    two = MultiTableReplayRunner(
        spark, str(tmp_path / "err"), ["t0", "t1"],  # t2 traffic unrouted
        route_by=ROUTE_SPARK, n_buckets=4, chunk_size=1_500,
    )
    with pytest.raises(UnroutedEvents, match="t2"):
        two.replay(wal)

    ign = MultiTableReplayRunner(
        spark, str(tmp_path / "ign"), ["t0", "t1"],
        route_by=ROUTE_SPARK, n_buckets=4, chunk_size=1_500,
        on_unrouted="ignore",
    )
    tables = ign.replay(wal)
    assert ign.unrouted_events > 0
    assert _state(tables["t0"]) == _oracle_state(wal, ROUTE_DUCK, "t0")
    assert _state(tables["t1"]) == _oracle_state(wal, ROUTE_DUCK, "t1")


def test_combined_fanout_equals_per_table(spark, wal, tmp_path, monkeypatch):
    """The default combined window (one (route,key) LWW reduce + one
    partitionBy(_route,_bucket) write, driver-side file attach) must be
    state- and metrics-equivalent to N independent merge_batch calls —
    the LWW-associativity argument, checked end to end."""
    from pasar_spark.cdc import router

    combined = _runner(spark, str(tmp_path / "c")).replay(wal)
    monkeypatch.setattr(router, "combined_eligible", lambda *a: False)
    per_table = _runner(spark, str(tmp_path / "p")).replay(wal)
    for name in NAMES:
        assert _state(combined[name]) == _state(per_table[name]), name
        cm, pm = combined[name].metrics, per_table[name].metrics
        for k in ("applied", "deleted", "events_seen"):
            assert cm.get(k, 0) == pm.get(k, 0), (name, k, cm, pm)
    # oracle gate on the combined output specifically
    for name in NAMES:
        assert _state(combined[name]) == _oracle_state(wal, ROUTE_DUCK, name)
    # routed files are single-table files: same physical layout, codec
    # and manifest entries as write_files output
    for name in NAMES:
        assert _file_shape(combined[name]) == _file_shape(per_table[name]), name


def _file_shape(table):
    """What a table's data files and manifest entries look like, minus
    their contents: parquet (column, physical type) pairs, codecs across
    files, and the entry key sets. Also checks each entry's path sits
    under data/<commit>/_bucket=<its bucket>/."""
    import re

    import pyarrow.parquet as pq

    columns, codecs, keys = set(), set(), set()
    for b, entries in table.manifest["buckets"].items():
        for e in entries:
            assert re.fullmatch(rf"data/[^/]+/_bucket={b}/[^/]+\.parquet", e["path"]), e
            keys.add(tuple(sorted(e)))
            md = pq.ParquetFile(os.path.join(table.path, e["path"])).metadata
            columns.add(tuple((c.name, c.physical_type) for c in md.schema))
            codecs.update(
                md.row_group(rg).column(ci).compression
                for rg in range(md.num_row_groups)
                for ci in range(md.num_columns)
            )
    assert codecs == {"SNAPPY"}
    assert keys == {("batch", "kind", "path", "rows", "schema_id", "stats")}
    return columns, codecs, keys


def test_crash_after_the_routed_write_leaves_only_table_orphans(
    spark, wal, tmp_path, monkeypatch
):
    """A crash between the routed write and the first commit leaves
    nothing outside the target dirs: the uncommitted files are ordinary
    orphans of their tables, which fsck reports and expire reclaims, and
    a rerun converges."""
    from pasar_spark.lake.fsck import fsck
    from pasar_spark.lake.table import LakeTable

    base = str(tmp_path / "lake")
    commit_append = LakeTable.commit_append

    def crash(self, new_files, *args, **kwargs):
        if new_files:
            raise RuntimeError("crash at the first routed commit")
        return commit_append(self, new_files, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit_append", crash)
    with pytest.raises(RuntimeError, match="first routed commit"):
        _runner(spark, base).replay(wal)
    monkeypatch.setattr(LakeTable, "commit_append", commit_append)

    assert sorted(os.listdir(base)) == NAMES
    staging = os.path.join(base, NAMES[0])
    report = fsck(staging)
    assert report["ok"], report["errors"]
    orphans = report["checked"]["orphan_files"]
    assert orphans > 0
    expired = LakeTable.load(spark, staging).expire_snapshots(min_age_sec=0)
    assert expired["deleted_files"] >= orphans
    assert fsck(staging)["checked"]["orphan_files"] == 0

    tables = _runner(spark, base).replay(wal)
    for name in NAMES:
        assert _state(tables[name]) == _oracle_state(wal, ROUTE_DUCK, name), name


def test_heterogeneous_buckets_fall_back_and_stay_correct(spark, wal, tmp_path):
    """Per-table opts can diverge the physical layout (t1 gets 8 buckets,
    the rest 4) — combined fan-out is then ineligible and the auto mode
    must fall back to per-table merges, still matching the oracle."""
    r = MultiTableReplayRunner(
        spark,
        str(tmp_path / "lake"),
        {"t0": {}, "t1": {"n_buckets": 8}, "t2": {}},
        route_by=ROUTE_SPARK,
        n_buckets=4,
        chunk_size=1_500,
    )
    tables = r.replay(wal)
    assert tables["t1"].manifest["n_buckets"] == 8
    assert tables["t0"].manifest["n_buckets"] == 4
    for name in NAMES:
        assert _state(tables[name]) == _oracle_state(wal, ROUTE_DUCK, name), name


def test_evolution_mid_feed_evolves_every_routed_target(spark, tmp_path):
    """A schema-evolution step landing mid-feed forces the per-table
    fallback for that window and must evolve EVERY target that sees
    evolved events — rows predating the evolution point keep null
    sentiment, later winners carry the promoted JSON value."""
    from pasar_spark.cdc.schema_evolution import EvolutionPlan

    wal = str(tmp_path / "wal")
    write_change_log(
        change_events(spark, 6_000, n_convs=80, seed=31, evolution_lsn=3_000),
        wal, n_files=4,
    )
    plan = EvolutionPlan(steps={1: [("add", "sentiment", "int")]})
    tables = MultiTableReplayRunner(
        spark, str(tmp_path / "lake"), NAMES, route_by=ROUTE_SPARK,
        n_buckets=4, chunk_size=1_500, evolution_plan=plan,
    ).replay(wal)
    for name in NAMES:
        t = tables[name]
        assert "sentiment" in t.schema.names(), name
        df = t.read()
        assert df.where("sentiment is not null").count() > 0, name
        assert df.where("sentiment is null and text is not null").count() > 0, name


def test_group_snapshot_is_cross_table_consistent(spark, wal, tmp_path):
    """group_snapshot must pin every table at the SAME window boundary
    even when one table's head ran ahead (the crash-mid-window shape),
    and the union of the pinned states must equal the DuckDB LWW state
    of the feed CUT at that boundary."""
    import duckdb

    from pasar_spark.cdc.router import group_snapshot

    base = str(tmp_path / "lake")
    # partial replay: the cut sits strictly INSIDE the feed, so the
    # oracle's lsn <= cut filter actually bites
    tables = _runner(spark, base).replay(wal, stop_after_chunks=2)
    cut = tables["t0"].last_lsn
    assert cut < 5_999  # interior boundary, not the feed tip
    # simulate a writer that died after advancing ONE table into the
    # next window (metadata-only position commit, as the router makes)
    tables["t1"].commit_append({}, "lsn-ahead", last_lsn=cut + 1_500)

    snap = group_snapshot(spark, base, NAMES)
    assert {t.last_lsn for t in snap.values()} == {cut}

    union = sorted(
        row
        for t in snap.values()
        for row in (
            tuple(r)
            for r in t.read().select("conv_id", "turn_idx", "ts", "lsn").collect()
        )
    )
    want = sorted(
        duckdb.connect().execute(
            f"""
            SELECT conv_id, turn_idx, ts, lsn FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY ts DESC, lsn DESC) rn
              FROM '{wal}/*.parquet' WHERE lsn <= {cut})
            WHERE rn = 1 AND op <> 'D'
            """
        ).fetchall()
    )
    assert union == want

    # non-lockstep history (streaming-shaped): the LAGGARD's position
    # sits BETWEEN the others' boundaries, so no common boundary exists
    # at the min — must refuse rather than pin an inconsistent pair
    tables["t0"].commit_append({}, "mid-window", last_lsn=cut + 10)
    tables["t2"].commit_append({}, "ahead-2", last_lsn=cut + 1_500)
    with pytest.raises(ValueError, match="not lockstep"):
        group_snapshot(spark, base, NAMES)


def test_cli_etl(spark, wal, tmp_path, capsys):
    from pasar_spark.cli import main

    base = str(tmp_path / "lake")
    rc = main(
        [
            "etl",
            "--wal", wal,
            "--base-dir", base,
            "--tables", ",".join(NAMES),
            "--route-by", ROUTE_SPARK,
            "--buckets", "4",
            "--chunk-size", "1500",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert all(os.path.isdir(os.path.join(base, n, "metadata")) for n in NAMES)
    assert "t0" in out and "last_lsn" in out

    import json

    assert main(["group-snapshot", "--base-dir", base, "--tables", ",".join(NAMES)]) == 0
    snap = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lsns = {v["last_lsn"] for v in snap["tables"].values()}
    assert lsns == {snap["cut_lsn"]}


def test_group_snapshot_refuses_an_expired_cut_version(spark, tmp_path):
    """A table ahead of the group cut whose version AT the cut was
    expired cannot be pinned: the walk-back names the missing version."""
    from pasar_spark.cdc.router import group_snapshot

    base = str(tmp_path / "lake")
    tables = _runner(spark, base).bootstrap()
    for n in NAMES:
        tables[n] = tables[n].commit_append({}, "lsn-0-99", last_lsn=99)
    at_cut = tables["t1"].version
    ahead = tables["t1"].commit_append({}, "lsn-100-199", last_lsn=199)
    ahead.expire_snapshots(keep_last=1, min_age_sec=0)
    with pytest.raises(LookupError, match=f"version v{at_cut} at group cut lsn 99 was expired"):
        group_snapshot(spark, base, NAMES)


def test_walk_back_below_the_chain_names_its_end(spark, tmp_path):
    """A cut below every retained version walks to the creation
    snapshot and reports where the chain ends."""
    from pasar_spark.cdc.router import _walk_back

    t = _runner(spark, str(tmp_path / "lake")).bootstrap()["t0"]
    t = t.commit_append({}, "lsn-0-99", last_lsn=99)
    with pytest.raises(LookupError, match=r"no retained version at group cut lsn -2 \(chain ends at v1, lsn -1\)"):
        _walk_back(spark, "t0", t, lambda t: t.last_lsn > -2, "group cut lsn -2")


def test_unknown_per_table_option_is_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="n_bucket"):
        MultiTableReplayRunner(
            spark, str(tmp_path / "lake"), {"t0": {}, "t1": {"n_bucket": 8}},
            route_by=ROUTE_SPARK,
        )
