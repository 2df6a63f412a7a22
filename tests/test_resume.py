"""Checkpoint/resume contract (north rule: 'resumable from checkpoint with
per-partition lineage + metrics', no URL fetched twice): kill the BSP loop
after wave k, restart from the manifest, and the final crawl order / seen set
/ terminal states / results / response-cache rows must equal an
uninterrupted run's exactly."""

import shutil

import pytest

from crawlspark import synth
from crawlspark.engine import CrawlConfig, CrawlEngine


def _mk_engine(spark, world, workdir, max_waves, wave_budget=30):
    cfg = CrawlConfig(
        validate_images=False,
        wave_budget=wave_budget,
        max_waves=max_waves,
        workdir=workdir,
    )
    return CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=cfg,
    )


@pytest.fixture(scope="module")
def world():
    return synth.make_world(n_hosts=4, total_pages=80)


def _order_rows(run):
    return [
        (r.wave, r.rank, r.job_id, r.url_canon)
        for r in run.order.orderBy("wave", "rank").collect()
    ]


def _table_rows(df):
    """Every row of an output table, order-insensitively."""
    return sorted(repr(tuple(r)) for r in df.collect())


def test_kill_and_resume_identical(spark, world, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("uninterrupted"))
    resumed = str(tmp_path_factory.mktemp("resumed"))

    # uninterrupted reference run
    full = _mk_engine(spark, world, base, max_waves=100).run(
        synth.seeds_df(spark, world)
    )

    # killed after 3 waves…
    part = _mk_engine(spark, world, resumed, max_waves=3).run(
        synth.seeds_df(spark, world)
    )
    assert part.waves == 3

    # …and resumed from the manifest
    eng2 = _mk_engine(spark, world, resumed, max_waves=100)
    cont = eng2.run(synth.seeds_df(spark, world), resume=True)
    assert cont.resumed_from_wave == 3

    assert _order_rows(cont) == _order_rows(full)
    assert {r.cache_key for r in cont.seen.collect()} == {
        r.cache_key for r in full.seen.collect()
    }
    got = {r.job_id: (r.attempts, r.final_state) for r in cont.terminal.collect()}
    want = {r.job_id: (r.attempts, r.final_state) for r in full.terminal.collect()}
    assert got == want
    # the committed waves' outputs come back too, not only the waves run
    # after the resume
    for table in ("results", "responses"):
        assert _table_rows(getattr(cont, table)) == _table_rows(getattr(full, table)), table

    # no URL fetched twice across the kill/resume boundary: a job_id appears
    # at most once per wave, and a done job never reappears in a later wave
    orders = _order_rows(cont)
    done_wave = {}
    for r in cont.terminal.collect():
        if r.final_state == "done":
            done_wave[r.job_id] = r.wave
    for wave, _rank, job_id, _u in orders:
        if job_id in done_wave:
            assert wave <= done_wave[job_id], f"{job_id} fetched after done"

    shutil.rmtree(base, ignore_errors=True)


def test_manifest_commit_is_atomic(spark, world, tmp_path_factory):
    # a manifest is only advanced after the wave's outputs are durable:
    # after a 2-wave run the manifest says wave=2 and every listed wave dir exists
    import json
    import os

    wd = str(tmp_path_factory.mktemp("atomic"))
    _mk_engine(spark, world, wd, max_waves=2).run(synth.seeds_df(spark, world))
    man = json.load(open(os.path.join(wd, "manifest.json")))
    assert man["wave"] == 2
    assert len(man["metrics"]) == 2
    for w in range(man["wave"] + 1):
        assert os.path.exists(os.path.join(wd, "pending", f"wave={w}")) or w < man["wave"]
    assert os.path.exists(os.path.join(wd, "pending", f"wave={man['wave']}"))
    assert os.path.exists(os.path.join(wd, "seen", "wave=0"))
    # the admitted rows are a cut, not a durable table: no resume reads
    # them back, the frontier snapshot holds them
    assert not os.path.exists(os.path.join(wd, "admitted"))


def test_durable_seen_compaction_writes_no_table(spark, world, tmp_path_factory):
    """The every-8-waves seen compaction is a lineage cut in both modes: a
    resume reads the per-wave seen deltas, never the compacted set, so a
    durable crawl past wave 8 writes no `seen_full` table, and its outputs
    equal the memory-mode crawl's."""
    import os

    def run(workdir):
        # small waves, so the crawl outlasts wave 8
        eng = _mk_engine(spark, world, workdir, max_waves=9, wave_budget=5)
        return eng.run(synth.seeds_df(spark, world))

    wd = str(tmp_path_factory.mktemp("compaction"))
    durable, memory = run(wd), run(None)
    assert durable.waves == memory.waves == 9
    assert not os.path.exists(os.path.join(wd, "seen_full"))
    assert _order_rows(durable) == _order_rows(memory)
    for table in ("results", "terminal", "seen"):
        assert _table_rows(getattr(durable, table)) == _table_rows(getattr(memory, table)), table
    shutil.rmtree(wd, ignore_errors=True)


# ---------------------------------------------------------------------------
# round 5 (verdict item 3): MID-COMMIT crash injection. The existing tests
# kill BETWEEN waves (max_waves); these kill inside a wave's commit sequence
# — after some write_wave()s landed but before the manifest advanced — and
# assert the resume replays the half-committed wave to a bit-identical run
# (SURVEY §7.5 item 6: re-running a half-committed wave yields identical
# output). Wave-3 write order is responses (CrawlEngine._wave) → seen →
# pending → order → results → terminal → commit_manifest (_commit), so:
#   ("seen", 3)     = early-mid crash (frontier/order dirs never written)
#   ("terminal", 3) = every wave-3 dir durable, manifest still at wave 2 —
#                     the duplicate-wave re-run case
# ---------------------------------------------------------------------------


class _InjectedCrash(RuntimeError):
    pass


def _crashing_io(spark, workdir, crash_after):
    from crawlspark.checkpoint import TableIO

    class CrashingIO(TableIO):
        def write_wave(self, df, table, wave):
            path = super().write_wave(df, table, wave)
            if (table, wave) == crash_after:
                raise _InjectedCrash(f"after write_wave({table}, {wave})")
            return path

    return CrashingIO(spark, workdir)


def _mk_engine_io(spark, world, io, max_waves):
    cfg = CrawlConfig(
        validate_images=False,
        wave_budget=30,
        max_waves=max_waves,
        workdir=io.workdir,
    )
    return CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=cfg,
        table_io=io,
    )


@pytest.fixture(scope="module")
def full_run_rows(spark, world, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("midcommit_ref"))
    full = _mk_engine(spark, world, base, max_waves=100).run(
        synth.seeds_df(spark, world)
    )
    rows = {
        "order": _order_rows(full),
        "seen": {r.cache_key for r in full.seen.collect()},
        "terminal": {
            r.job_id: (r.attempts, r.final_state) for r in full.terminal.collect()
        },
        "results": _table_rows(full.results),
        "responses": _table_rows(full.responses),
    }
    shutil.rmtree(base, ignore_errors=True)
    return rows


@pytest.mark.parametrize("crash_after", [("seen", 3), ("terminal", 3)])
def test_mid_commit_crash_resumes_identically(
    spark, world, tmp_path_factory, full_run_rows, crash_after
):
    import json
    import os

    wd = str(tmp_path_factory.mktemp(f"midcommit_{crash_after[0]}"))
    with pytest.raises(_InjectedCrash):
        _mk_engine_io(spark, world, _crashing_io(spark, wd, crash_after), 100).run(
            synth.seeds_df(spark, world)
        )
    # the crash left wave-3 dirs behind but the manifest still says wave 2
    man = json.load(open(os.path.join(wd, "manifest.json")))
    assert man["wave"] == 2
    assert os.path.exists(os.path.join(wd, crash_after[0], "wave=3"))

    # additionally simulate a HALF-MOVED partition dir: drop one parquet
    # part-file from the half-committed wave (never read on resume — only
    # waves <= manifest wave are — and overwritten by the replay)
    broken = os.path.join(wd, crash_after[0], "wave=3")
    parts = [p for p in os.listdir(broken) if p.endswith(".parquet")]
    if parts:
        os.unlink(os.path.join(broken, parts[0]))

    from crawlspark.checkpoint import TableIO

    cont = _mk_engine_io(spark, world, TableIO(spark, wd), 100).run(
        synth.seeds_df(spark, world), resume=True
    )
    assert cont.resumed_from_wave == 2
    assert _order_rows(cont) == full_run_rows["order"]
    assert {r.cache_key for r in cont.seen.collect()} == full_run_rows["seen"]
    assert {
        r.job_id: (r.attempts, r.final_state) for r in cont.terminal.collect()
    } == full_run_rows["terminal"]
    for table in ("results", "responses"):
        assert _table_rows(getattr(cont, table)) == full_run_rows[table], table
