"""Benchmark of raster_tools_spark: one seeded workload per invocation.

    python3 perfbench/run.py --workload tiles_pip --seed 42 --seconds 10 --trace 0

Run from the root of a source tree (the directory that holds
``raster_tools_spark/``).  The load is a closed loop: one client, this
process, submits one Spark job at a time to a ``local[nproc]`` session.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

See perfbench/README.md for the workloads, metrics and output files.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
KEEP_RUNS = 10

DEFAULT_SEED = 42
SETUP_REPS = 3       # input open + polygon build repeated; median taken
MIN_WARM_JOBS = 3
MIN_TRACE_ITERS = 2
OTHER_PASSES = 2     # other chains run twice in a traced run; last kept
PIP_SAMPLE = 64      # images in the brute-force PIP check
MICRO_POINTS = 256   # image centres in the geom microbenchmarks

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "images_per_s": "1/s",
    "peak_rss_mb": "MB",
    "python_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "synth.prepare_s": "s",
    "scan.s": "s",
    "tile.assign_cells_s": "s",
    "pip.pip_join_s": "s",
    "pip.candidates": "count",
    "pip.refine_keep_ratio": "ratio",
    "pip.shuffle_bytes": "bytes",
    "geom.points_in_wkb_mpts_per_s": "Mpt/s",
    "zonal.zonal_stats_s": "s",
    "zonal.candidates": "count",
    "zonal.pairs_per_image": "ratio",
    "geom.rasterize_mask_mpx_per_s": "Mpx/s",
    "codecs.decode_mb_per_s.png": "MB/s",
    "codecs.decode_mb_per_s.jpeg": "MB/s",
    "codecs.encode_mb_per_s.png": "MB/s",
    "grid.covering_cells_per_s": "1/s",
    "image_enhance.box_blur_stats_s": "s",
    "retile.retile_s": "s",
    "retile.shuffle_bytes": "bytes",
    "retile.tiles_out": "count",
    "retile.write_s": "s",
    "retile.bytes_written_per_input_byte": "ratio",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "stage.task_skew_max": "ratio",
    "stage.spill_mb": "MB",
    "stage.gc_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--images", type=int, default=None,
                   help="input images (default: the workload's size)")
    p.add_argument(
        "--expect-digest", default=None,
        help="expected output digest; overrides expected_digests.json",
    )
    return p.parse_args(argv)


def driver_mem_mb(total_bytes: int) -> int:
    """A quarter of physical memory, capped at 1 GiB.  The engine's 24g
    default is more than small hosts have, and the workloads need far
    less.  With a 2 GiB heap, how far it grew depended on GC timing, and
    the JVM's peak RSS varied 1.7x between runs of one workload.  The cap
    also bounds the heap's share of ``peak_rss_mb``; ``python_rss_mb``,
    the Python workers' share, has no such cap."""
    return max(512, min(1024, total_bytes // 4 // 2**20))


def expected_digest(seed: int, images: int, key: str) -> str | None:
    """The recorded digest of chain ``key`` on ``images`` input images,
    when ``seed`` is the recorded seed."""
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        exp = json.load(f)
    if seed != exp["seed"]:
        return None
    return exp["digests"].get(str(images), {}).get(key)


class Checker:
    """Counts attempted and failed jobs and checks.  A job fails when it
    raises or when its digest differs from the reference: the expected
    digest when one is recorded for this seed, else the first job's."""

    def __init__(self, expected: str | None):
        self.reference = expected
        self.attempted = 0
        self.failed = 0
        self.notes: list = []

    def job(self, digest: str | None, label: str) -> None:
        self.attempted += 1
        if digest is None:
            self.failed += 1
            self.notes.append(f"{label}: raised")
            return
        if self.reference is None:
            self.reference = digest
        if digest != self.reference:
            self.failed += 1
            self.notes.append(
                f"{label}: digest {digest} != reference {self.reference}"
            )

    def merge(self, other: "Checker") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.notes += other.notes

    def check(self, ok: bool, label: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{label}: failed")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark_conf(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from tracing import EVENT_LOG_CONF

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every child process
    (the JVM and its Python workers) to end."""
    import host
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline:
        left = host.descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _prune_runs() -> None:
    runs = os.path.join(WORK, "runs")
    if not os.path.isdir(runs):
        return
    dirs = sorted((os.path.join(runs, d) for d in os.listdir(runs)),
                  key=os.path.getmtime, reverse=True)
    for old in dirs[KEEP_RUNS:]:
        shutil.rmtree(old, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "raster_tools_spark",
                                       "__init__.py")):
        print(f"perfbench: no raster_tools_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import host
    import inputs as inputs_mod
    import microbench
    import tracing
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.images is None:
        args.images = wl.IMAGES[args.workload]
    chain_key = wl.WORKLOADS[args.workload]
    chain = wl.CHAINS[chain_key]
    trace = bool(args.trace)

    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    for d in ("tmp", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cache_dir = os.path.join(WORK, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Spark prefers this variable over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVM that spark-submit starts to build the driver command would
    # otherwise write an hsperfdata file to the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    n_cpu = host.nproc()
    mem_mb = driver_mem_mb(host.mem_total_bytes())
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_mb}m"
    facts = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "images": args.images, "tiles_axis": wl.TILES_AXIS,
        "polygons": wl.N_POLYGONS, "polygon_seed": wl.POLYGON_SEED,
        "trace": args.trace,
        "seconds": args.seconds, "nproc": n_cpu,
        "master": f"local[{n_cpu}]", "driver_memory": f"{mem_mb}m",
        "mem_total_mb": host.mem_total_bytes() // 2**20,
        "git_commit": host.git_commit(ROOT),
        "loadavg_start": host.loadavg(),
        "cpu_busy_frac_start": host.cpu_busy_frac(0.25),
        **host.versions(),
    }
    facts["busy_host"] = facts["cpu_busy_frac_start"] > host.BUSY_CPU_FRAC
    phases = facts["phase_end_s"] = {}  # seconds since process start

    def phase(name):
        phases[name] = time.perf_counter() - T_PROCESS

    from raster_tools_spark.session import get_spark

    # one-off input generation, outside setup_s; synth.prepare_s is the
    # generation time recorded with the entry, by whichever run paid it.
    # The set-up repetitions below verify the entry again.
    t0 = time.perf_counter()
    images_path, meta, rebuilt = inputs_mod.prepare(
        cache_dir, args.seed, args.images, wl.TILES_AXIS, n_cpu,
    )
    # a traced run measures the other chains on their own input size
    other = None
    if trace and args.images != wl.OTHER_CHAIN_IMAGES:
        other = inputs_mod.prepare(
            cache_dir, args.seed, wl.OTHER_CHAIN_IMAGES, wl.TILES_AXIS,
            n_cpu,
        )
    t_prepare = time.perf_counter() - t0
    phase("prepare")
    facts["input_bytes"] = meta["bytes"]
    facts["cache_hit"] = not meta["prepared_now"]
    facts["cache_rebuilt"] = rebuilt
    if trace:
        facts["other_chain_images"] = wl.OTHER_CHAIN_IMAGES

    checker = Checker(args.expect_digest
                      or expected_digest(args.seed, args.images, chain_key))
    sampler = host.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{n_cpu}]",
                          extra_conf=_spark_conf(run_dir, trace))
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        session_ready = time.perf_counter() - T_PROCESS - t_prepare
        tracer = tracing.Tracer(spark.sparkContext, run_id, trace)
        phase("session")

        inp, setup_times = _set_up(spark, args, images_path, meta,
                                   os.path.join(run_dir, "out"))
        other_inp = inp
        if other is not None:
            other_inp = _open_inputs(spark, args.seed, wl.OTHER_CHAIN_IMAGES,
                                     other[0], other[1], inp)
        setup_s = session_ready + _median(setup_times)
        phase("setup")

        job_layer, job = chain[-1]
        digest = wl.DIGESTS[chain_key]

        def run_job(label):
            """(seconds, DataFrame, output) of one full job; output None
            when it raised."""
            t0 = time.perf_counter()
            try:
                df, out = job(inp)
            except Exception:
                traceback.print_exc()
                checker.job(None, label)
                return time.perf_counter() - t0, None, None
            dt = time.perf_counter() - t0
            checker.job(digest(out), label)
            return dt, df, out

        sampler.reset()
        with tracer.span("job.cold"):
            cold_s, _, _ = run_job("cold")
        phase("cold")

        if trace:
            result = _traced_loop(args, chain_key, chain, inp, tracer,
                                  run_job)
            result["others"] = {}
            for key in wl.CHAINS:
                if key == chain_key:
                    continue
                steps, df, out, digests = _traced_chain(
                    key, wl.CHAINS[key], other_inp, tracer)
                # each pass must match the recorded digest, or when none
                # is recorded for this seed and size, the first pass
                passes = Checker(expected_digest(
                    args.seed, other_inp.n_images, key))
                for it, got in enumerate(digests):
                    passes.job(got, f"{key} pass{it}")
                checker.merge(passes)
                facts[f"{key}_digest"] = passes.reference
                nodes = tracing.plan_nodes(df) if df is not None else []
                result["others"][key] = {
                    "steps": steps, "out": out,
                    "counts": _plan_counts(key, nodes),
                }
        else:
            warm = []
            t_loop = time.perf_counter()
            while (time.perf_counter() - t_loop < args.seconds
                   or len(warm) < MIN_WARM_JOBS):
                dt, _, _ = run_job(f"warm{len(warm)}")
                warm.append(dt)
            result = {"warm_s": warm}
        peak_rss_mb = sampler.peak_mb
        python_rss_mb = sampler.peak_python_mb
        phase("loop")
        facts["peak_rss_jvm_mb"] = sampler.peak_jvm_mb

        if chain_key == "pip.pip_join":
            # independent check: brute-force PIP of a sample, no pruning
            ids, cx, cy = wl.sample_centers(args.seed, args.images,
                                            wl.TILES_AXIS, PIP_SAMPLE)
            want = wl.brute_force_pairs(ids, cx, cy, inp.polygons_pdf)
            checker.check(wl.engine_pairs(inp, ids) == want,
                          "brute-force pip sample")
            facts["pip_sample_pairs"] = len(want)
            phase("check")

        if trace:
            ids, cx, cy = wl.sample_centers(args.seed, args.images,
                                            wl.TILES_AXIS, MICRO_POINTS)
            result["micro"] = {
                **microbench.codec_rates(images_path),
                **microbench.geom_rates(cx, cy, inp.polygons_pdf),
            }
    finally:
        try:
            _stop_spark(spark)
        finally:
            sampler.close()

    phase("stop")
    facts["loadavg_end"] = host.loadavg()
    facts["setup_reps_s"] = setup_times
    facts["session_ready_s"] = session_ready

    if trace:
        log_groups = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        metrics = _layer_metrics(chain_key, result, tracer, log_groups, inp,
                                 other_inp)
        metrics["session.start_s"] = session_start_s
        metrics["synth.prepare_s"] = meta["prepare_s"]
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        facts["counts_repeat"] = result["counts_repeat"]
        facts["plain_s"] = result["plain_s"]
        facts["traced_s"] = result["traced_s"]
        (metrics["trace.overhead_frac"], facts["overhead_vs"],
         facts["overhead_vs_age_s"]) = _trace_overhead(args, result)
        units = PER_LAYER
    else:
        warm = result["warm_s"]
        facts["warm_jobs"] = len(warm)
        facts["warm_s"] = warm
        metrics = {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "images_per_s": args.images / _median(warm),
            "peak_rss_mb": peak_rss_mb,
            "python_rss_mb": python_rss_mb,
        }
        units = END_TO_END
        os.makedirs(os.path.dirname(_untraced_path(args)), exist_ok=True)
        with open(_untraced_path(args), "w") as f:
            json.dump({"run_id": run_id, "warm_s": _median(warm),
                       "time": time.time()}, f)
    facts["failed_frac"] = checker.failed_frac
    facts["failures"] = checker.notes
    facts["digest"] = checker.reference

    out = {
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"facts": facts, "result": out}, f, indent=1)
    for d in ("spark-local", "out", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    _prune_runs()

    print(f"workload {args.workload}  seed {args.seed}  images {args.images}"
          f"  trace {args.trace}  run {run_id}")
    if facts["busy_host"]:
        print(f"WARNING: host was busy at start "
              f"(cpu {facts['cpu_busy_frac_start']:.0%})")
    for k, u in units.items():
        print(f"  {k:<40} {metrics[k]:>14.6g} {u}")
    print(f"  {'failed_frac':<40} {checker.failed_frac:>14.6g} "
          f"({checker.failed}/{checker.attempted})")
    for note in checker.notes:
        print(f"  FAILED {note}")
    print("verdict:", "correct" if checker.failed == 0 else "WRONG")
    print("host:", json.dumps(facts, sort_keys=True))
    print(json.dumps(out))
    return 0


def _set_up(spark, args, images_path, meta, out_dir):
    """Open and verify the cached inputs and build the polygon layer,
    ``SETUP_REPS`` times: (the last Inputs, seconds of each repetition)."""
    import workloads as wl
    from raster_tools_spark import synth

    inp, times = None, []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if inp is not None:
            inp.polygons.unpersist(blocking=True)
        polys = synth.polygons_df(
            spark, wl.N_POLYGONS, seed=wl.POLYGON_SEED,
            tiles_axis=wl.TILES_AXIS,
        ).cache()
        polys.count()
        layer = wl.Inputs(
            n_images=0, tiles_axis=wl.TILES_AXIS, images=None,
            input_bytes=0, polygons=polys,
            polygons_pdf=synth.polygons_pdf(
                wl.N_POLYGONS, seed=wl.POLYGON_SEED,
                tiles_axis=wl.TILES_AXIS,
            ),
            out_dir=out_dir,
        )
        inp = _open_inputs(spark, args.seed, args.images, images_path, meta,
                           layer)
        times.append(time.perf_counter() - t0)
    return inp, times


def _open_inputs(spark, seed, n, images_path, meta, base):
    """Verify the cache entry at ``images_path`` and open it as the image
    table of a copy of ``base``, which supplies the polygon layer."""
    import dataclasses

    import inputs as inputs_mod
    import workloads as wl

    reason = inputs_mod.verify(images_path, seed, n, wl.TILES_AXIS)
    if reason is not None:
        raise RuntimeError(f"input cache failed its check: {reason}")
    return dataclasses.replace(
        base, n_images=n, images=spark.read.parquet(images_path),
        input_bytes=meta["bytes"],
    )


def _traced_loop(args, chain_key, chain, inp, tracer, run_job) -> dict:
    """Each iteration: one plain job and one traced job (span + final-
    plan read), in alternating order so that neither always runs on the
    warmer JVM, then every prefix of the chain to a noop sink."""
    import tracing

    plain, traced, counts = [], [], []
    prefix = {name: [] for name, _ in chain[:-1]}
    t_loop = time.perf_counter()
    while (time.perf_counter() - t_loop < args.seconds
           or len(plain) < MIN_TRACE_ITERS):
        it = len(plain)
        for kind in (("plain", "traced") if it % 2 == 0
                     else ("traced", "plain")):
            t0 = time.perf_counter()
            if kind == "plain":
                run_job(f"plain{it}")
                plain.append(time.perf_counter() - t0)
                continue
            with tracer.span("job", iteration=it):
                _, df, _ = run_job(f"traced{it}")
                nodes = tracing.plan_nodes(df) if df is not None else []
            traced.append(time.perf_counter() - t0)
            counts.append(_plan_counts(chain_key, nodes))
        for name, build in chain[:-1]:
            t0 = time.perf_counter()
            with tracer.span(f"loop.{name}", iteration=it):
                _noop(build(inp))
            prefix[name].append(time.perf_counter() - t0)
    return {"plain_s": plain, "traced_s": traced, "counts": counts,
            "prefix_s": prefix,
            "counts_repeat": all(c == counts[0] for c in counts)}


def _traced_chain(key, chain, inp, tracer):
    """Run one of the other chains ``OTHER_PASSES`` times, step by step,
    and keep the timings of the last pass, whose operators are past
    their first-run costs: ([(layer, seconds, span id)], the final
    DataFrame, output, [the output digest of every pass])."""
    import workloads as wl

    digests = []
    for it in range(OTHER_PASSES):
        steps = []
        for name, fn in chain:
            t0 = time.perf_counter()
            with tracer.span(f"{key}:{name}", iteration=it) as sp:
                if name == chain[-1][0]:
                    df, out = fn(inp)
                else:
                    _noop(fn(inp))
            steps.append((name, time.perf_counter() - t0, sp["id"]))
        # outside the timed steps, before the next pass rewrites output
        digests.append(wl.DIGESTS[key](out))
    return steps, df, out, digests


def _plan_counts(key, nodes) -> dict:
    import tracing

    if key == "pip.pip_join":
        cand = tracing.join_output_rows(nodes)
        kept = tracing.python_output_rows(nodes, "MapInPandas")
        return {"pip.candidates": cand,
                "pip.refine_keep_ratio": kept / cand if cand else 0.0}
    if key == "zonal.zonal_stats":
        return {"zonal.candidates": tracing.join_output_rows(nodes)}
    return {}


SHUFFLE = "internal.metrics.shuffle.write.bytesWritten"
# layers whose shuffle bytes are reported: written by the layer's step
# minus written by the step before it
SHUFFLE_METRIC = {"pip.pip_join": "pip.shuffle_bytes",
                  "retile.retile": "retile.shuffle_bytes"}


def _layer_metrics(key, result, tracer, log_groups, inp, other_inp) -> dict:
    """Per-layer metrics of a traced run, except session.start_s,
    synth.prepare_s and trace.overhead_frac.  The workload's chain, on
    ``inp``, gives medians over the loop's iterations; every other
    chain, on ``other_inp``, gives its last pass."""
    import inputs
    import tracing

    m = dict(result["micro"])

    def span_groups(name):
        return [log_groups.get(s["id"], []) for s in tracer.spans
                if s["name"] == name]

    def med_sum(name, metric, scale=1.0):
        return _median([tracing.stage_sum(g, metric) * scale
                        for g in span_groups(name)])

    # the workload's own chain: staged self time = median over the
    # iterations of (step time - previous step time)
    names = list(result["prefix_s"]) + [key]
    times = list(result["prefix_s"].values()) + [result["plain_s"]]
    spans = [f"loop.{n}" for n in names[:-1]] + ["job"]
    prev_t, prev_shuffle = [0.0] * len(times[0]), 0.0
    for name, ts, span in zip(names, times, spans):
        m[_time_key(name)] = _median([t - p for t, p in zip(ts, prev_t)])
        shuffle = med_sum(span, SHUFFLE)
        if name in SHUFFLE_METRIC:
            m[SHUFFLE_METRIC[name]] = shuffle - prev_shuffle
        prev_t, prev_shuffle = ts, shuffle
    m.update(result["counts"][0])

    # the other chains: their layers not already measured in the loop
    for other in result["others"].values():
        prev_t, prev_shuffle = 0.0, 0.0
        for name, t, span_id in other["steps"]:
            shuffle = tracing.stage_sum(log_groups.get(span_id, []), SHUFFLE)
            if name not in names:
                m[_time_key(name)] = t - prev_t
                if name in SHUFFLE_METRIC:
                    m[SHUFFLE_METRIC[name]] = shuffle - prev_shuffle
            prev_t, prev_shuffle = t, shuffle
        m.update(other["counts"])
    tiles, written = inputs.parquet_stats(
        result["others"]["retile.write"]["out"])
    m["retile.tiles_out"] = tiles
    m["retile.bytes_written_per_input_byte"] = \
        written / other_inp.input_bytes
    zonal_inp = inp if key == "zonal.zonal_stats" else other_inp
    m["zonal.pairs_per_image"] = m["zonal.candidates"] / zonal_inp.n_images

    cold = span_groups("job.cold")[0]
    m["python.boot_s"] = tracing.stage_sum(
        cold, "time to start Python workers") / 1e3
    m["python.init_s"] = tracing.stage_sum(
        cold, "time to initialize Python workers") / 1e3
    m["python.mb_sent"] = med_sum("job", "data sent to Python workers", 1e-6)
    m["python.mb_received"] = med_sum(
        "job", "data returned from Python workers", 1e-6)
    m["stage.task_skew_max"] = _median(
        [tracing.task_skew_max(g) for g in span_groups("job")])
    m["stage.spill_mb"] = med_sum(
        "job", "internal.metrics.diskBytesSpilled", 2**-20)
    m["stage.gc_s"] = med_sum("job", "internal.metrics.jvmGCTime", 1e-3)
    return m


def _untraced_path(args) -> str:
    """Where an untraced run leaves its median warm job time for the
    traced runs of the same workload, seed and size."""
    return os.path.join(WORK, "untraced",
                        f"{args.workload}_s{args.seed}_n{args.images}.json")


def _trace_overhead(args, result):
    """(median traced job time / median untraced job time - 1, the run
    it was compared with, that run's age in seconds).  The untraced time
    is the newest untraced run's median warm job of this workload, seed
    and size.  Without one, the comparison falls back to this run's
    plain jobs, which leaves out the cost of the event log."""
    traced = _median(result["traced_s"])
    try:
        with open(_untraced_path(args)) as f:
            base = json.load(f)
        return (traced / base["warm_s"] - 1.0, base["run_id"],
                time.time() - base["time"])
    except (OSError, ValueError, KeyError):
        return (traced / _median(result["plain_s"]) - 1.0,
                "plain jobs of this traced run", 0.0)


def _time_key(layer: str) -> str:
    return "scan.s" if layer == "scan" else f"{layer}_s"


if __name__ == "__main__":
    sys.exit(main())
