"""Every path that changes session SQL conf scopes it: the checkpoint cuts
(the engine's `_materialize` and the package's one lineage cut,
`session.cut_lazy`) and the execution-mode switch that `run()` applies
(`_exec_mode`) must leave AQE and the codegen confs exactly as they found
them — also when the scoped body raises — and a cut keeps every row.

Inside the scope each path sees only its own setting: every memory-mode
cut compiles with AQE off, and below the wave-budget crossover the run plans
in interpreted mode.
"""

import pytest

from crawlspark import synth
from crawlspark.engine import INTERPRETED_BELOW_WAVE_BUDGET, CrawlConfig, CrawlEngine
from crawlspark.session import cut_lazy

CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode",
)
AQE_OFF = {"spark.sql.adaptive.enabled": "false"}
INTERPRETED = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def _engine(spark, world, **cfg_kwargs):
    return CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=CrawlConfig(**{"validate_images": False, "wave_budget": 30, **cfg_kwargs}),
    )


def _in_exec_mode(eng, df):
    with eng._exec_mode():
        return eng._materialize(df, "pending", 0)


def _materialize_keep_layout(eng, df):
    """The frontier-snapshot cut `_commit` makes: a hash-partitioned,
    sorted frame must come out of the cut still reporting its partitioning,
    which a cut compiled under AQE would lose."""
    snapshot = df.repartition(4, "url").sortWithinPartitions("priority")
    cut = eng._materialize(snapshot, "pending", 0)
    partitioning = cut._jdf.queryExecution().executedPlan().outputPartitioning()
    assert partitioning.toString().startswith("hashpartitioning(url"), partitioning.toString()
    assert partitioning.numPartitions() == 4
    return cut


# case → (config overrides, the cut, confs in force while the cut compiles)
CASES = {
    "materialize": ({}, lambda eng, df: eng._materialize(df, "pending", 0), AQE_OFF),
    "materialize_keep_layout": ({}, _materialize_keep_layout, AQE_OFF),
    "cut_lazy": ({}, lambda eng, df: cut_lazy(df), AQE_OFF),
    "exec_mode_below_crossover": ({}, _in_exec_mode, {**INTERPRETED, **AQE_OFF}),
    # the crossover is strict: a wave budget equal to it keeps codegen
    "exec_mode_at_crossover": (
        {"wave_budget": INTERPRETED_BELOW_WAVE_BUDGET}, _in_exec_mode, AQE_OFF,
    ),
    "exec_mode_above_crossover": (
        {"wave_budget": INTERPRETED_BELOW_WAVE_BUDGET + 1}, _in_exec_mode, AQE_OFF,
    ),
}


@pytest.fixture(scope="module")
def world():
    return synth.make_world(n_hosts=4, total_pages=60)


@pytest.mark.parametrize("case", list(CASES))
def test_conf_scope_restores_session_conf(spark, world, monkeypatch, case):
    overrides, cut, scoped = CASES[case]
    eng = _engine(spark, world, **overrides)
    df = synth.seeds_df(spark, world)
    n_rows = df.count()

    def confs():
        return {k: spark.conf.get(k) for k in CONFS}

    before = confs()
    compiled_under = []
    real = type(df).localCheckpoint
    for raises in (False, True):

        def spy(self, *args, **kwargs):
            compiled_under.append(confs())
            if raises:
                raise RuntimeError("injected checkpoint failure")
            return real(self, *args, **kwargs)

        monkeypatch.setattr(type(df), "localCheckpoint", spy)
        if raises:
            with pytest.raises(RuntimeError, match="injected"):
                cut(eng, df)
        else:
            assert cut(eng, df).count() == n_rows
        monkeypatch.undo()
        assert confs() == before
    assert compiled_under == [{**before, **scoped}] * 2
