"""Two-cluster-size scaling evidence (BASELINE.md §3): the same crawl job on
the same deterministic input at N=local[8] and 4N=local[32], ≥3 reps each,
medians reported.

    efficiency = urls_per_sec(local[32]) / (4 × urls_per_sec(local[8]))

Each parallelism level runs in its own subprocess (one SparkSession per
master). Writes BENCH/scaling_r{round}.json and regenerates BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _steal_jiffies() -> int:
    """Hypervisor steal time from /proc/stat (field 9 of the cpu line).
    This sandbox is a guest VM with bursty external neighbors; steal is the
    direct, kernel-reported measure of CPU the host took from us during a
    rep. A 16-thread level collapses under a burst while a 4-thread level
    barely notices, so uninstrumented N-vs-4N ratios conflate engine
    scaling with neighbor activity — each rep records its own steal%
    so contaminated reps are identifiable in the artifact."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _steal_probe(sec: float) -> float:
    """Instantaneous whole-VM steal%% over a short window — used to defer
    LAUNCHING a measurement pair until the hypervisor is quiet. Gating is on
    launch conditions only; every launched pair is recorded in the artifact
    whatever happens to it mid-flight."""
    import time

    n = os.cpu_count() or 1
    s0 = _steal_jiffies()
    time.sleep(sec)
    s1 = _steal_jiffies()
    return 100.0 * (s1 - s0) * 0.01 / (sec * n)


BUSY_FLAG = "/tmp/crawlspark_host_busy"
STATUS_FILE = "/tmp/crawlspark_scaling.status"


def _set_status(state: str, cpus: int | None = None) -> None:
    """Leg-in-flight marker for COOPERATIVE scheduling with other work on
    this box. The steal counter only sees *hypervisor* neighbors; a pytest
    run on this same guest contends for memory bandwidth with a pinned leg
    without registering a single steal jiffy (the round-4 pair-2 anomaly).
    So: other workloads on the guest touch BUSY_FLAG before heavy work and
    poll this file to avoid launching while a leg is mid-flight; the
    collector refuses to launch a leg while BUSY_FLAG exists."""
    import time as _t

    try:
        with open(STATUS_FILE, "w") as f:
            json.dump({"state": state, "cpus": cpus, "ts": _t.time()}, f)
    except OSError:
        pass


def _wait_not_busy() -> None:
    import time as _t

    while os.path.exists(BUSY_FLAG):
        print(f"  busy-flag {BUSY_FLAG} present — deferring leg", flush=True)
        _t.sleep(30)


def _bw_probe_mbps(n_mb: int = 128, reps: int = 3) -> float:
    """Single-thread DRAM-bandwidth probe (~1.5 s): median MB/s of copying an
    n_mb buffer. Round 4's one anomaly — a 0.62%-steal 16-leg that ran 22%
    slow — was attributed to 'neighbor memory-bandwidth pressure the steal
    counter cannot see', which the round-4 verdict rightly called
    unfalsifiable as stated. This probe makes it measurable: each leg records
    the probe BEFORE and AFTER it ran, so a quiet-steal-but-slow leg either
    shows depressed bandwidth in the artifact or loses the excuse. A single
    thread can't saturate the socket, but neighbor pressure depresses even
    single-stream copy throughput (shared LLC + memory controller), which is
    all the diagnostic needs."""
    import time

    import numpy as np

    src = np.ones(n_mb * 131072, dtype=np.float64)  # n_mb MB of 8-byte lanes
    dst = np.empty_like(src)
    np.copyto(dst, src)  # warm-up: page-fault dst once, off the clock
    rates = []
    for _ in range(reps):
        t0 = time.monotonic()
        np.copyto(dst, src)
        dt = time.monotonic() - t0
        rates.append(2 * n_mb / dt)  # read + write traffic
    return round(statistics.median(rates), 1)


def run_level(cpus: int, scale: str, wave_budget: int, max_waves: int, reps: int,
              no_images: bool, image_px: int, shuffle_partitions: int,
              pin: bool = False, bloom_bits: int | None = None,
              leg_timeout: int = 3600, driver_mem: str = "48g",
              keep_per_wave: bool = False, master_tpl: str | None = None,
              confs: list[str] | None = None) -> list[dict]:
    import time

    n_host_cpus = os.cpu_count() or 1
    outs = []
    for rep in range(reps):
        # --pin: confine the whole leg (driver, JVM, and the python UDF
        # workers the JVM forks — affinity is inherited) to exactly `cpus`
        # physical cores. Without this, local[N]'s python workers overflow
        # onto the host's idle cores: a local[4] leg's payload stage was
        # measured running ~1.5× faster than 4 dedicated workers can
        # (BENCH/BASELINE.md §2e), i.e. the nominal-4-core level was borrowing
        # 2-4 extra cores, deflating the N→4N ratio. A real N-core executor
        # node runs its task threads AND its python workers on the same N
        # cores, so the pinned legs are the faithful cluster model.
        _wait_not_busy()
        _set_status("leg_running", cpus)
        pin_prefix = ["taskset", "-c", f"0-{cpus - 1}"] if pin else []
        cmd = pin_prefix + [
            sys.executable, os.path.join(HERE, "run_crawl.py"),
            "--cpus", str(cpus), "--scale", scale,
            "--wave-budget", str(wave_budget), "--max-waves", str(max_waves),
            "--image-px", str(image_px),
            # IDENTICAL physical partitioning at both levels — the controlled
            # variable is executor parallelism only
            "--shuffle-partitions", str(shuffle_partitions),
        ]
        if no_images:
            cmd.append("--no-images")
        if bloom_bits is not None:
            cmd += ["--bloom-bits", str(bloom_bits)]
        if master_tpl is not None:
            # e.g. "local-cluster[{workers},4,13312]": real separate executor
            # JVMs, `workers` scaled so workers×4 = the level's core count —
            # the north rule's N→4N *executor* axis rather than 4× threads
            # inside one JVM. taskset pinning above still bounds the whole
            # process tree to `cpus` cores.
            cmd += ["--master",
                    master_tpl.format(cpus=cpus, workers=max(1, cpus // 4))]
        for c in confs or []:
            cmd += ["--conf", c]
        env = dict(os.environ, PYTHONPATH=REPO, CRAWLSPARK_DRIVER_MEM=driver_mem)
        bw0 = _bw_probe_mbps()
        s0, t0 = _steal_jiffies(), time.monotonic()
        res = subprocess.run(cmd, capture_output=True, text=True, env=env,
                             timeout=leg_timeout)
        s1, t1 = _steal_jiffies(), time.monotonic()
        bw1 = _bw_probe_mbps()
        line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
        if not line:
            raise RuntimeError(f"rep {rep} cpus={cpus} produced no JSON:\n{res.stderr[-2000:]}")
        d = json.loads(line[-1])
        if not keep_per_wave:
            d.pop("per_wave", None)
        # jiffies are 10ms ticks; normalize over the whole-VM core count
        d["steal_pct"] = round(100.0 * (s1 - s0) * 0.01 / ((t1 - t0) * n_host_cpus), 2)
        d["bw_probe_mbps"] = [bw0, bw1]
        print(f"  cpus={cpus} rep={rep}: {d['urls_per_sec']} urls/s ({d['wall_sec']}s, "
              f"{d['waves']} waves, steal={d['steal_pct']}%, bw={bw0}/{bw1} MB/s)", flush=True)
        outs.append(d)
        _set_status("idle")
    return outs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="large")
    ap.add_argument("--wave-budget", type=int, default=120_000)
    ap.add_argument("--max-waves", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--n4", type=int, default=32)
    ap.add_argument("--no-images", action="store_true")
    ap.add_argument("--image-px", type=int, default=256)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--interleave", action="store_true",
                    help="alternate N / 4N reps (N,4N,N,4N,...) instead of "
                         "running each level in a block — this VM's "
                         "contention is bursty and external, so a block "
                         "design lets one burst land entirely on one level; "
                         "interleaved pairs share each time window and the "
                         "per-pair efficiencies expose the burst directly")
    ap.add_argument("--quiet-gate", type=float, default=None,
                    help="with --interleave: before each pair, probe steal%% "
                         "for 15s and defer launch until it is below this "
                         "gate; keep collecting pairs until --quiet-target "
                         "pairs have both legs <=1%% steal or --max-hours "
                         "elapses. Launch-time gating only — every launched "
                         "pair is recorded.")
    ap.add_argument("--quiet-target", type=int, default=3)
    ap.add_argument("--max-hours", type=float, default=3.0)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "scaling.json"))
    ap.add_argument("--pin", action="store_true",
                    help="taskset each leg to exactly its core count (JVM + "
                         "python UDF workers share those cores, like a real "
                         "N-core executor node) — without it local[N]'s "
                         "python workers overflow onto idle host cores and "
                         "the N leg gets >N cores of compute")
    ap.add_argument("--bloom-bits", type=int, default=None,
                    help="pass through to run_crawl.py (size the bloom tier "
                         "to the corpus, e.g. 1<<24 for the x10sat world)")
    ap.add_argument("--leg-timeout", type=int, default=3600,
                    help="per-leg subprocess timeout in seconds (raise for "
                         "big-wave worlds whose pinned small leg runs long)")
    ap.add_argument("--driver-mem", default="48g",
                    help="JVM heap for every leg. The official pairs run "
                         "48g at BOTH core counts — that models 'same total "
                         "memory, 4x cores'. The north rule's N->4N "
                         "EXECUTOR scaling carries memory with the "
                         "executors (constant per-core); model it by giving "
                         "each level heap proportional to its cores via "
                         "--single-level runs (e.g. 12g at 4 cores vs 48g "
                         "at 16).")
    ap.add_argument("--single-level", type=int, default=None,
                    help="collect --reps quiet-gated legs of ONE level "
                         "(this core count) instead of N/4N pairs — for "
                         "control experiments that vary one knob (e.g. "
                         "--driver-mem) against an already-collected "
                         "opposite level")
    ap.add_argument("--master-tpl", default=None,
                    help="master URL template per leg with {cpus}/{workers} "
                         "placeholders, e.g. 'local-cluster[{workers},4,13312]' "
                         "for real multi-executor-JVM legs")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf k=v forwarded to every leg "
                         "(repeatable) — e.g. spark.local.dir=/dev/shm/... "
                         "for the storage-channel control")
    ap.add_argument("--resume", action="store_true",
                    help="seed the interleaved collection from an existing "
                         "<out>.partial (pairs collected by a prior process "
                         "that died mid-collection are kept; collection "
                         "continues until the quiet target is met)")
    args = ap.parse_args()

    levels = {}
    pair_effs = quiet_eff = None
    if args.single_level is not None:
        import time

        # a custom --out in a not-yet-existing directory must not crash the
        # first .partial snapshot inside the loop (round-6 advice fix)
        out_dir = os.path.dirname(os.path.abspath(args.out))
        os.makedirs(out_dir, exist_ok=True)
        outs: list[dict] = []
        t_start = time.monotonic()
        while len(outs) < args.reps:
            if time.monotonic() - t_start > args.max_hours * 3600:
                print("  max-hours reached", flush=True)
                break
            if args.quiet_gate is not None:
                if os.path.exists(BUSY_FLAG):
                    print(f"  busy-flag {BUSY_FLAG} present — deferring leg", flush=True)
                    time.sleep(30)
                    continue
                g = _steal_probe(15)
                if g > args.quiet_gate:
                    print(f"  steal probe {g:.2f}% > gate {args.quiet_gate}% — deferring", flush=True)
                    time.sleep(60)
                    continue
                print(f"  steal probe {g:.2f}% — launching leg {len(outs)}", flush=True)
            outs += run_level(args.single_level, args.scale, args.wave_budget,
                              args.max_waves, 1, args.no_images, args.image_px,
                              args.shuffle_partitions, pin=args.pin,
                              bloom_bits=args.bloom_bits,
                              leg_timeout=args.leg_timeout,
                              driver_mem=args.driver_mem,
                              keep_per_wave=True,
                              master_tpl=args.master_tpl, confs=args.conf)
            with open(args.out + ".partial", "w") as f:
                json.dump({"runs": outs}, f, indent=1)
        result = {
            "scale": args.scale,
            "image_px": args.image_px,
            "shuffle_partitions": args.shuffle_partitions,
            "wave_budget": args.wave_budget,
            "max_waves": args.max_waves,
            "single_level": args.single_level,
            "driver_mem": args.driver_mem,
            "pinned": bool(args.pin),
            "quiet_gate": args.quiet_gate,
            "median_urls_per_sec": (
                statistics.median(o["urls_per_sec"] for o in outs) if outs else None
            ),
            "runs": outs,
        }
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps({"single_level": args.single_level,
                          "driver_mem": args.driver_mem,
                          "median_urls_per_sec": result["median_urls_per_sec"]}))
        return
    if args.interleave:
        import time

        runs = {args.n: [], args.n4: []}
        if args.resume and os.path.exists(args.out + ".partial"):
            with open(args.out + ".partial") as f:
                prior = json.load(f)
            runs[args.n] = prior.get("runs_n", [])
            runs[args.n4] = prior.get("runs_4n", [])
            print(f"  resumed {len(runs[args.n])} N-legs / "
                  f"{len(runs[args.n4])} 4N-legs from partial", flush=True)

        def _n_quiet():
            return sum(
                1 for a, b in zip(runs[args.n], runs[args.n4])
                if a["steal_pct"] <= 1.0 and b["steal_pct"] <= 1.0
            )

        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        t_start = time.monotonic()
        rep = 0
        while True:
            if args.quiet_gate is not None:
                if _n_quiet() >= args.quiet_target:
                    break
                if time.monotonic() - t_start > args.max_hours * 3600:
                    print("  max-hours reached", flush=True)
                    break
                if os.path.exists(BUSY_FLAG):
                    print(f"  busy-flag present — deferring pair", flush=True)
                    time.sleep(30)
                    continue
                g = _steal_probe(15)
                if g > args.quiet_gate:
                    print(f"  steal probe {g:.2f}% > gate {args.quiet_gate}% — deferring", flush=True)
                    time.sleep(60)
                    continue
                print(f"  steal probe {g:.2f}% — launching pair {rep}", flush=True)
            elif rep >= args.reps:
                break
            # 4N leg FIRST: it is the steal-SENSITIVE one (a 16-thread gang
            # collapses under a burst while 4 threads barely notice), so it
            # must run in the window the 15s probe just certified quiet.
            # Running N first (as rounds 1-3 did) burns ~10-13 min of the
            # certified window on the insensitive leg and hands the sensitive
            # leg to whatever the host looks like a quarter-hour later —
            # 8 pairs collected that way yielded zero with both legs ≤1%.
            for cpus in (args.n4, args.n):
                # per-LEG gate: the quiet criterion is per-leg steal ≤1%, and
                # the N leg is the longest (~13 min at local[4]) — launching
                # it into an uncertified window wastes the whole pair. Every
                # launched leg is still recorded, contaminated or not.
                if args.quiet_gate is not None and cpus != args.n4:
                    while time.monotonic() - t_start <= args.max_hours * 3600:
                        g = _steal_probe(15)
                        if g <= args.quiet_gate:
                            break
                        print(f"  steal probe {g:.2f}% > gate {args.quiet_gate}% — deferring {cpus}-leg", flush=True)
                        time.sleep(60)
                runs[cpus] += run_level(cpus, args.scale, args.wave_budget,
                                        args.max_waves, 1, args.no_images,
                                        args.image_px, args.shuffle_partitions,
                                        pin=args.pin, bloom_bits=args.bloom_bits,
                                        leg_timeout=args.leg_timeout,
                                        driver_mem=args.driver_mem,
                                        master_tpl=args.master_tpl,
                                        confs=args.conf)
            rep += 1
            with open(args.out + ".partial", "w") as f:
                json.dump({"runs_n": runs[args.n], "runs_4n": runs[args.n4]}, f, indent=1)
        pair_effs = [
            round(b["urls_per_sec"] / (4 * a["urls_per_sec"]), 3)
            for a, b in zip(runs[args.n], runs[args.n4])
        ]
        print(f"  per-pair efficiencies: {pair_effs}", flush=True)
        # quiet pairs: both legs ran with ≤1% hypervisor steal — the
        # engine's own scaling, separated from external neighbor bursts
        quiet = [
            e for e, a, b in zip(pair_effs, runs[args.n], runs[args.n4])
            if a.get("steal_pct", 99) <= 1.0 and b.get("steal_pct", 99) <= 1.0
        ]
        quiet_eff = round(statistics.median(quiet), 3) if quiet else None
        print(f"  quiet-pair efficiencies (steal<=1% both legs): {quiet}", flush=True)
        for cpus in (args.n, args.n4):
            levels[str(cpus)] = {
                "median_urls_per_sec": statistics.median(
                    o["urls_per_sec"] for o in runs[cpus]
                ),
                "runs": runs[cpus],
            }
    else:
        for cpus in (args.n, args.n4):
            outs = run_level(cpus, args.scale, args.wave_budget, args.max_waves,
                             args.reps, args.no_images, args.image_px,
                             args.shuffle_partitions, pin=args.pin,
                             bloom_bits=args.bloom_bits,
                             leg_timeout=args.leg_timeout,
                             driver_mem=args.driver_mem,
                             master_tpl=args.master_tpl, confs=args.conf)
            med = statistics.median(o["urls_per_sec"] for o in outs)
            levels[str(cpus)] = {
                "median_urls_per_sec": med,
                "runs": outs,
            }
    t_n = levels[str(args.n)]["median_urls_per_sec"]
    t_4n = levels[str(args.n4)]["median_urls_per_sec"]
    eff = t_4n / (4 * t_n)
    result = {
        "scale": args.scale,
        "image_px": args.image_px,
        "shuffle_partitions": args.shuffle_partitions,
        "wave_budget": args.wave_budget,
        "max_waves": args.max_waves,
        "reps": args.reps,
        "n_cores": args.n,
        "n4_cores": args.n4,
        "throughput_n": t_n,
        "throughput_4n": t_4n,
        "scaling_efficiency": round(eff, 3),
        "interleaved": bool(args.interleave),
        "pinned": bool(args.pin),
        "pair_efficiencies": pair_effs,
        "quiet_pair_efficiency": quiet_eff,
        "quiet_gate": args.quiet_gate,
        "driver_mem": args.driver_mem,
        "master_tpl": args.master_tpl,
        "confs": args.conf,
        "measured_round": 5,
        "levels": levels,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: result[k] for k in
                      ("throughput_n", "throughput_4n", "scaling_efficiency")}))


if __name__ == "__main__":
    main()
