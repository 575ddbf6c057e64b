"""KG-construction benchmark.

    python3 kgbench/run.py --workload kg_flagship --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process runs one workload as a
closed loop (the next iteration starts when the previous one returned)
on ``local[<half the affinity cores>]``: set-up (session start, seeded input
generation and write), then iterations for ``--seconds``, at least one,
then the correctness gate.  The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes the
one iteration a traced one and reports the per-layer metrics.  The
lines before it print every metric by name and unit.  Metric names and
units are those of ``BENCHMARK.json``; METRICS.md beside this file
lists the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SETUP_REPEATS = 3
KERNEL_SAMPLE_TEXTS = 2000


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- machine sizing -----------------------------------------------------
def cores() -> int:
    """Task slots: half the cores this process may run on.  Each slot
    of the python-UDF tagger busies a JVM thread and a python worker,
    the sizing rule BENCH.md uses; at two threads per core the run
    would also slow whenever another process on the machine took a
    core."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def driver_mem_mb() -> int:
    """2 GiB, or a quarter of physical RAM when that is smaller."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(2048, total_kb // 4096)


def configure_env(work_dir: str) -> None:
    """Everything the run writes goes under ``work_dir``; BLAS stays
    single-threaded in this process too (the kernel timings run here)."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


# -- processes and memory -----------------------------------------------
def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children[ppid].append(int(entry))
    out, todo = [], list(children[pid])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the Spark JVM and its
    python workers."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0
                )
        except OSError:
            pass
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process the
    run started to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# -- per-layer metrics --------------------------------------------------
END_TO_END_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
#: a workload's phase times: printed by every run, and the per-layer
#: ``phase.<name>`` metrics of a traced run
PHASE_UNITS = {
    name[len("phase.") :]: unit
    for name, unit in PER_LAYER_UNITS.items()
    if name.startswith("phase.")
}


def kernel_timings(texts: list[str]) -> tuple[float, float, float]:
    """Spark-free (emissions_s, viterbi_s, chars_per_s) of the tagger's
    numpy kernel over ``texts``, in length-sorted mini-batches of 512
    as the tagger runs them."""
    from ner_spark.ner import model_np as M
    from ner_spark.ner.train_np import load_or_train

    seqs = sorted((list(t) for t in texts if t), key=len)
    params, vocab = load_or_train()
    lut = M.vocab_lut(vocab)
    emissions_s = viterbi_s = 0.0
    chars = 0
    for lo in range(0, len(seqs), 512):
        ids, lengths = M.encode_batch(seqs[lo : lo + 512], vocab, lut=lut)
        t0 = perf_counter()
        emit = M.emissions(ids, lengths, params)
        t1 = perf_counter()
        M.viterbi_batch(emit, lengths, params["trans"])
        viterbi_s += perf_counter() - t1
        emissions_s += t1 - t0
        chars += int(lengths.sum())
    return emissions_s, viterbi_s, chars / (emissions_s + viterbi_s)


def layer_metrics(tracer, stats, kernel) -> dict[str, float]:
    from kgbench.trace import task_skew

    selfs = tracer.self_times()
    spans = tracer.spans

    def pick(name):
        return [s for s in spans if s.name == name]

    def layer(layer_name):
        return [s for s in spans if s.layer == layer_name]

    def total(ss, key):
        return sum(stats[s.id][key] for s in ss)

    def self_s(ss):
        return sum(selfs[s.id] for s in ss)

    def rows(ss):
        return sum(s.rows or 0 for s in ss)

    def attr(ss, key):
        return sum(s.attrs.get(key, 0) for s in ss)

    tag = pick("ner.tagger:tag_turns")
    stage_times = {}
    for s in tag:
        stage_times.update(stats[s.id]["stage_task_s"])
    linking_ = layer("kg.linking")
    commits = pick("checkpoint.lineage:commit_stage")
    sinks = pick("streaming.face:sink")
    drains = pick("streaming.face:drain")
    partial = pick("checkpoint.resume:partial_rerun")
    partial_tags = [
        d for p in partial for d in tracer.descendants(p.id)
        if d.name == "ner.tagger:tag_turns"
    ]
    cands, matches = attr(linking_, "candidate_pairs"), rows(pick("kg.linking:match_edges"))
    sink_tree = [d for s in sinks for d in [s, *tracer.descendants(s.id)]]
    return {
        "io.read.self_s": self_s(layer("io.read")),
        "io.read.input_bytes": total(layer("io.read"), "input_bytes"),
        "kg.skew.task_skew": task_skew(stage_times),
        "kg.skew.max_partition_rows": max(
            (s.attrs.get("max_partition_rows", 0) for s in layer("kg.skew")), default=0
        ),
        "ner.tagger.self_s": self_s(layer("ner.tagger")),
        "ner.tagger.turns": rows(tag),
        "ner.tagger.mentions": rows(pick("ner.tagger:mentions_from_turns")),
        "ner.tagger.tasks": total(tag, "tasks"),
        "ner.tagger.tasks_failed": total(tag, "tasks_failed"),
        "ner.tagger.gc_s": total(tag, "gc_s"),
        "ner.model_np.emissions_s": kernel[0],
        "ner.model_np.viterbi_s": kernel[1],
        "ner.model_np.chars_per_s": kernel[2],
        "kg.cooccur.self_s": self_s(layer("kg.cooccur")),
        "kg.cooccur.triples": rows(layer("kg.cooccur")),
        "kg.cooccur.shuffle_write_bytes": total(layer("kg.cooccur"), "shuffle_write_bytes"),
        "kg.cooccur.spill_bytes": total(layer("kg.cooccur"), "spill_bytes"),
        "kg.linking.self_s": self_s(linking_),
        "kg.linking.nodes": rows(pick("kg.linking:surface_nodes")),
        "kg.linking.candidate_pairs": cands,
        "kg.linking.match_edges": matches,
        "kg.linking.match_ratio": matches / cands if cands else 0.0,
        "kg.linking.shuffle_write_bytes": total(linking_, "shuffle_write_bytes"),
        "kg.cc.self_s": self_s(layer("kg.cc")),
        "kg.cc.edges": attr(layer("kg.cc"), "edges"),
        "kg.cc.components": attr(layer("kg.cc"), "components"),
        "kg.materialize.self_s": self_s(layer("kg.materialize")),
        "kg.materialize.entities": rows(pick("kg.materialize:build_entities")),
        "kg.materialize.kg_edges": rows(pick("kg.materialize:build_edges")),
        "checkpoint.lineage.commit_self_s": self_s(commits),
        "checkpoint.lineage.validate_self_s": self_s(
            pick("checkpoint.lineage:validate_stage")
        ),
        "checkpoint.lineage.bytes_written": total(commits, "bytes_written"),
        "checkpoint.lineage.buckets_written": attr(commits, "buckets_written"),
        "checkpoint.lineage.buckets_recomputed": attr(commits, "buckets_recomputed"),
        "checkpoint.resume.wasted_rows": rows(partial_tags)
        - attr(partial, "needed_rows"),
        "streaming.face.batches": len(sinks),
        "streaming.face.sink_self_s": self_s(sinks),
        "streaming.face.idle_s": sum(s.end - s.start for s in drains)
        - sum(s.end - s.start for s in sinks),
        "streaming.face.jobs_per_batch": (
            total(sink_tree, "jobs") / len(sinks) if sinks else 0.0
        ),
    }


# -- main ---------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    work_dir = os.path.join(ROOT, ".kgbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    configure_env(work_dir)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run's work dir is still there
            pass


def run(args, work_dir: str) -> int:
    from kgbench import trace
    from kgbench.workloads import WORKLOADS
    from ner_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
    }
    event_dir = os.path.join(work_dir, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    t0 = perf_counter()
    spark = get_spark(f"kgbench-{args.workload}", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = perf_counter() - t0
    tally = {"attempted": 0, "failed": 0}

    def attempt(what, fn):
        tally["attempted"] += 1
        try:
            return fn()
        except Exception:
            tally["failed"] += 1
            log(f"{what} raised:\n" + traceback.format_exc())
            return None

    samples: list[dict] = []
    try:
        workload = WORKLOADS[args.workload](spark, args.seed, work_dir)
        gen_s = []
        for i in range(SETUP_REPEATS):
            t0 = perf_counter()
            workload.setup(os.path.join(work_dir, f"input-{i}"))
            gen_s.append(perf_counter() - t0)
        t0 = perf_counter()
        workload.warm_up()
        warm_up_s = perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warm_up_s
        log(
            f"setup: session {session_s:.2f}s, inputs {statistics.median(gen_s):.2f}s "
            f"(median of {SETUP_REPEATS}), warm-up {warm_up_s:.2f}s; "
            f"{workload.input_rows} input rows"
        )

        # Closed loop: at least one iteration, more while time is left.
        # A traced run makes the first iteration a traced one and stops.
        if args.trace:
            tracer = trace.Tracer(spark)
            tracer.install()
        t_start = perf_counter()
        try:
            while not samples or perf_counter() - t_start < args.seconds:
                sample = attempt("iteration", workload.run_once)
                if sample is None:
                    break
                samples.append(sample)
                log(f"iteration {len(samples)}: " + ", ".join(
                    f"{k} {v:.3f}" for k, v in sample.items()))
                if args.trace:
                    break
        finally:
            if args.trace:
                tracer.uninstall()
        rss = peak_rss_mb(descendants(os.getpid()))

        t0 = perf_counter()
        checks = attempt("correctness check", workload.check) or []
        if args.trace:
            # a layer that opened no span would report zeros, not its cost
            checks += [
                (f"traced_{layer}", any(s.layer == layer for s in tracer.spans))
                for layer in workload.LAYERS
            ]
        tally["attempted"] += len(checks)
        tally["failed"] += sum(not ok for _, ok in checks)
        for name, ok in checks:
            log(f"check {name}: {'ok' if ok else 'FAILED'}")
        workload.release()
        if args.trace:
            tracer.release()
        log(f"correctness gate {perf_counter() - t0:.2f}s")

        if args.trace and samples:
            kernel = kernel_timings(workload.sample_texts(KERNEL_SAMPLE_TEXTS))
    finally:
        t0 = perf_counter()
        stop_spark(spark)
        log(f"stop {perf_counter() - t0:.2f}s")
    attempted, failed = tally["attempted"], tally["failed"]

    if not samples:
        log("no iteration completed")
        return 1

    def med(key):
        vals = [s[key] for s in samples if key in s]
        return statistics.median(vals) if vals else None

    for name, unit in PHASE_UNITS.items():
        if med(name) is not None:
            print(f"{args.workload} {name} {med(name):.6g} {unit} (median of {len(samples)})")
    print(f"{args.workload} ops_failed_ratio {failed / attempted:.6g} ratio ({failed}/{attempted})")
    if args.trace:
        values = layer_metrics(tracer, trace.event_log_stats(event_dir), kernel)
        values["session.start_s"] = session_s
        values["session.peak_rss_mb"] = rss
        # tracing overhead: this minus iteration_s of the untraced run
        # with the same seed (METRICS.md)
        values["trace.iteration_s"] = samples[0]["iteration_s"]
        for name in PHASE_UNITS:
            values[f"phase.{name}"] = samples[0].get(name, 0.0)
        tracer.dump(
            os.path.join(ROOT, ".kgbench_out", f"spans-{args.workload}-{args.seed}.json")
        )
        metrics = {name: (values[name], unit) for name, unit in PER_LAYER_UNITS.items()}
    else:
        values = {"setup_s": setup_s, "iteration_s": med("iteration_s")}
        metrics = {name: (values[name], unit) for name, unit in END_TO_END_UNITS.items()}
        # JVM heap growth follows GC timing, so peak RSS spreads too
        # widely between runs to gate on; it is printed, and reported
        # per layer as session.peak_rss_mb.
        print(f"{args.workload} peak_rss_mb {rss:.6g} MB")

    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": float(value), "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
