"""Every metric the benchmark reports, with its unit. `BENCHMARK.json`
lists the same names and units; the smoke test checks that they agree."""

from perfbench.crawl import REPLAY_TIME
from perfbench.pipeline import QUERIES

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "step_geomean_s": "s",
}

PER_LAYER = {
    # session / synth: set-up
    "session.start_s": "s",
    "synth.world_s": "s",
    "engine.init_s": "s",
    # engine: the wave loop
    "engine.wave_p50_s": "s",
    "engine.wave_max_s": "s",
    "engine.wave_sum_s": "s",
    "engine.admit_s": "s",
    "engine.wave_serial_s": "s",
    "engine.jobs_per_wave": "count",
    "engine.stages_per_wave": "count",
    "engine.tasks_per_wave": "count",
    "engine.exec_cpu_s": "s",
    "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB",
    # engine: end-of-run results materialization
    "engine.teardown_s": "s",
    "engine.teardown_tasks": "count",
    "engine.teardown_max_task_s": "s",
    # image: the validate UDF at the Arrow boundary
    "image.validate_rows": "count",
    "image.udf_exec_s": "s",
    "image.udf_bytes_sent_mb": "MB",
    # checkpoint: durable waves and resume
    "checkpoint.write_s": "s",
    "checkpoint.bytes_written": "B",
    "checkpoint.commits": "count",
    "checkpoint.resume_s": "s",
    # layer replay
    **{name: "s" for name in REPLAY_TIME.values()},
    **{f"{layer}.rows_in": "count" for layer in REPLAY_TIME},
    **{f"{layer}.rows_out": "count" for layer in REPLAY_TIME},
    "seen.dedup_ratio": "ratio",
    "seen.bloom_engaged": "bool",
    # datapipe
    **{f"query.{q}_s": "s" for q in QUERIES},
    "datapipe.build_s": "s",
    "datapipe.exec_s": "s",
    "datapipe.udf_exec_s": "s",
    "datapipe.shuffle_mb": "MB",
    "datapipe.tasks": "count",
    # the traced run itself and the host it ran on
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "host.steal_pct": "%",
    "host.load_avg_1m": "load",
    "host.nproc": "count",
    "host.peak_rss_mb": "MB",
}
