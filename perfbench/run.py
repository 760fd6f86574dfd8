#!/usr/bin/env python3
"""graft benchmark: two seeded workloads driven through graft's public
entry points, one JVM per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload {ts_serve,curate_export}
                             --seed N --seconds S --trace {0,1}

Each run builds graft and the harness if the sources changed
(perfbench/build.py), prepares the inputs once per build directory
(never timed), starts one JVM that sets up, warms up and runs the timed
window, then checks the answers. `--trace 1` adds a traced window and a
second untraced one, and reports per-layer metrics and the tracing
overhead.

Human-readable tables go to stdout first; the last line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Run
artifacts (result.json, spans.jsonl, layers.jsonl, jvm.log) are kept
under <build dir>/out/<workload>-s<seed>-t<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(HERE))
import build as builder  # noqa: E402

WORKLOADS = ("ts_serve", "curate_export")
CURATE = ("pipeline_clean_corpus", "pipeline_train_export", "text_quality_lr", "corpus_shard_export")
SLOTS = ("primary_ms", "secondary_ms", "tertiary_ms", "quaternary_ms")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg: str, code: int = 2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 1)


def heap() -> str:
    """Half of MemTotal, clamped to 2..8 GB: the sizing of the tier-1 test command."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


class Jvm:
    def __init__(self, root: Path, bb: Path, classpath: str):
        self.bb, self.cores = bb, nproc()
        self.cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={bb / 'tmp'}",
                     f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                     "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
                    + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                    + ["-cp", classpath, "perfbench.Main"])

    def run(self, args: list, log: Path, limit_s: float) -> float:
        """Run the JVM to completion; return its launch time (epoch s)."""
        shutil.rmtree(self.bb / "tmp", ignore_errors=True)
        (self.bb / "tmp").mkdir(parents=True)
        work = self.bb / "work"
        work.mkdir(parents=True, exist_ok=True)
        launched = time.time()
        with open(log, "w") as fh:
            p = subprocess.Popen(self.cmd + args + ["--cores", str(self.cores), "--local", str(self.bb / "tmp")],
                                 cwd=work, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(5.0, limit_s))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"JVM exceeded {limit_s:.0f} s; see {log}", 3)
            except BaseException:
                p.kill()
                p.wait()
                raise
        if rc != 0:
            tail = log.read_text(errors="replace").splitlines()[-25:]
            die(f"JVM exited with {rc}; see {log}\n" + "\n".join(tail), 3)
        return launched


def read_props(path: Path) -> dict:
    props = {}
    for line in path.read_text().splitlines():
        if line and not line.startswith("#") and "=" in line:
            k, v = line.split("=", 1)
            props[k] = v.replace("\\:", ":").replace("\\=", "=")
    return props


def prep_key(bb: Path) -> str:
    """The inputs depend on the sources (ScaleGen, the harness) and on
    where they live: inputs.properties records absolute paths."""
    return (bb / "classes" / "perfbench.stamp").read_text() + "\n" + str(bb / "inputs")


def prepared(bb: Path) -> bool:
    key = bb / "inputs" / "prep.key"
    return key.is_file() and key.read_text() == prep_key(bb) and (bb / "inputs" / "inputs.properties").is_file()


def prepare(root: Path, bb: Path, jvm: Jvm, limit_s: float) -> dict:
    """One-time input generation; excluded from setup_s."""
    inputs = bb / "inputs"
    if not prepared(bb):
        shutil.rmtree(inputs, ignore_errors=True)
        inputs.mkdir(parents=True)
        jvm.run(["prep", "--data", str(root / "perfbench" / "data"), "--inputs", str(inputs)],
                inputs / "prep.log", limit_s)
        (inputs / "prep.key").write_text(prep_key(bb))
    return read_props(inputs / "inputs.properties")


def pct(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def median(values: list) -> float:
    return statistics.median(values) if values else float("nan")


def source_id(root: Path) -> str:
    """The commit, or a digest of the sources when there is no git checkout."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()[:12]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for sub in ("src/main", "perfbench/scala"):
        for f in sorted((root / sub).rglob("*")):
            if f.is_file():
                h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:12]


def end_to_end(workload: str, res: dict, ops: list, launched: float) -> dict:
    """The contract metrics, from the untraced window. The four slots
    are, on ts_serve, the getData and getPlotData medians and the p95
    and p90 over all requests; on curate_export, the mean of each
    composite over the window's passes. Host contention slows whole
    passes, and the first timed pass is the slowest: a mean of three
    passes spread less over ten seeds than their median, which picks
    one of them."""
    ok = [o for o in ops if not o["error"]]
    ms = lambda o: (o["end_us"] - o["start_us"]) / 1000.0  # noqa: E731
    of = lambda *kinds: [ms(o) for o in ops if o["kind"] in kinds]  # noqa: E731
    span_s = (max(o["end_us"] for o in ops) - min(o["start_us"] for o in ops)) / 1e6
    if workload == "ts_serve":
        p50 = median([ms(o) for o in ops])
        lat = [ms(o) for o in ops]
        slots = (median(of("get_data")), median(of("plot_data")), pct(lat, 0.95), pct(lat, 0.90))
    else:
        p50 = median(res["passes_ms"])
        slots = tuple(statistics.fmean(of(name)) for name in CURATE)
    metrics = {
        "setup_s": (res["ready_ms"] / 1000.0 - launched, "s"),
        "ops_per_s": (len(ok) / span_s, "ops/s"),
        "latency_p50_ms": (p50, "ms"),
    }
    metrics.update((slot, (v, "ms")) for slot, v in zip(SLOTS, slots))
    return metrics


def named_table(workload: str, res: dict, ops: list, failed: int, attempted: int, e2e: dict) -> list:
    """The per-workload metrics under their own names."""
    ms = lambda o: (o["end_us"] - o["start_us"]) / 1000.0  # noqa: E731
    rows = [("setup_s", e2e["setup_s"][0], "s"), ("failed_frac", failed / attempted, "ratio"),
            ("peak_rss_mb", res["vm_hwm_kb"] / 1024.0, "MB")]
    if workload == "ts_serve":
        lat = [ms(o) for o in ops]
        rows += [("ops_per_s", e2e["ops_per_s"][0], "ops/s"), ("latency_p50_ms", median(lat), "ms"),
                 ("latency_p95_ms", pct(lat, 0.95), f"ms ({sum(x > pct(lat, 0.95) for x in lat)} beyond)")]
        if len(lat) > 10:  # the highest percentile that keeps ten samples beyond it
            q = 1.0 - 10.0 / len(lat)
            rows.append((f"latency_p{100 * q:.0f}_ms", pct(lat, q), f"ms (n={len(lat)})"))
        for kind in ("get_data", "plot_data", "search", "metadata"):
            k = [ms(o) for o in ops if o["kind"] == kind]
            rows.append((f"{kind}_p50_ms", median(k), f"ms (n={len(k)})"))
    else:
        rows.append(("pass_s", median(res["passes_ms"]) / 1000.0, f"s (n={len(res['passes_ms'])})"))
        for name in CURATE:
            short = {"pipeline_clean_corpus": "clean_corpus", "pipeline_train_export": "train_export",
                     "text_quality_lr": "quality_lr", "corpus_shard_export": "shard_export"}[name]
            k = [ms(o) / 1000.0 for o in ops if o["kind"] == name]
            rows.append((f"{short}_s", statistics.fmean(k), f"s (mean, n={len(k)})"))
    return rows


PER_LAYER = [
    # metric, unit, how ops are reduced, layers.jsonl field
    ("build_ms", "ms", "median", "build_ms"),
    ("build_jobs", "count", "mean", "build_jobs"),
    ("plan_ms", "ms", "mean", "plan_ms"),
    ("jobs_per_op", "count", "mean", "jobs"),
    ("stages_per_op", "count", "mean", "stages"),
    ("tasks_per_op", "count", "mean", "tasks"),
    ("task_s_per_op", "s", "mean", "task_s"),
    ("cpu_s_per_op", "s", "mean", "cpu_s"),
    ("gc_s_per_op", "s", "mean", "gc_s"),
    ("driver_gap_s_per_op", "s", "mean", "driver_gap_s"),
    ("shuffle_write_mb_per_op", "MB", "mean", "shuffle_write_mb"),
    ("shuffle_read_mb_per_op", "MB", "mean", "shuffle_read_mb"),
    ("spill_mb_per_op", "MB", "mean", "spill_mb"),
    ("bytes_read_mb_per_op", "MB", "mean", "bytes_read_mb"),
    ("output_mb_per_op", "MB", "mean", "output_mb"),
    ("self_entry_ms", "ms", "mean", "self_entry_ms"),
    ("self_plans_ms", "ms", "mean", "self_plans_ms"),
    ("self_spark_ms", "ms", "mean", "self_spark_ms"),
    ("self_benchmark_ms", "ms", "mean", "self_benchmark_ms"),
]


def layer_summary(layers: list, cores: int) -> dict:
    """Per-layer metrics over a set of traced ops."""
    out = {}
    for name, unit, how, field in PER_LAYER:
        vals = [float(x[field]) for x in layers]
        out[name] = (median(vals) if how == "median" else statistics.fmean(vals), unit)
    root_s = sum(x["root_ms"] for x in layers) / 1000.0
    task_s = sum(x["task_s"] for x in layers)
    out["busy_pct"] = (100.0 * task_s / (root_s * cores) if root_s else 0.0, "%")
    delays = [d for x in layers for d in x["sched_delay_ms"]]
    # a mean: Spark stamps these in whole ms, so a median would repeat exactly
    out["sched_delay_ms"] = (statistics.fmean(delays) if delays else 0.0, "ms")
    returned = sum(x["rows_returned"] for x in layers)
    out["rows_read_per_row_returned"] = (sum(x["rows_read"] for x in layers) / max(1, returned), "ratio")
    known = [x for x in layers if x["output_files"] >= 0]
    out["output_files_per_op"] = (statistics.fmean(x["output_files"] for x in known) if known else 0.0, "count")
    left = [x["rdds_left_persisted"] for x in layers if x["rdds_left_persisted"] >= 0]
    out["rdds_left_persisted"] = (statistics.fmean(left) if left else 0.0, "count")
    return out


def per_layer(workload: str, res: dict, ops: list, layers: list, cores: int) -> tuple:
    """Workload-level per-layer metrics, and a per-kind breakdown."""
    summary = layer_summary(layers, cores)
    cg = res["codegen"]
    n = max(1, len(layers))
    summary["codegen_compiles_per_op"] = (cg["traced_compiles"] / n, "count")
    summary["codegen_ms_per_op"] = (cg["traced_ns"] / 1e6 / n, "ms")
    ms = lambda o: (o["end_us"] - o["start_us"]) / 1000.0  # noqa: E731
    # untraced windows before and after the traced one bracket JIT warm-up drift
    if workload == "ts_serve":
        base = median([ms(o) for o in ops if o["window"] in ("timed", "after")])
        traced = median([ms(o) for o in ops if o["window"] == "traced"])
    else:
        base, traced = median(res["passes_ms"] + res["after_passes_ms"]), median(res["traced_passes_ms"])
    summary["trace_overhead_pct"] = (100.0 * (traced / base - 1.0), "%")
    kinds = {}
    for kind in sorted({x["kind"] for x in layers}):
        sub = [x for x in layers if x["kind"] == kind]
        k = layer_summary(sub, cores)
        if workload != "ts_serve":  # one client: codegen is attributable per op
            k["codegen_compiles_per_op"] = (statistics.fmean(x["codegen_compiles"] for x in sub), "count")
            k["codegen_ms_per_op"] = (statistics.fmean(x["codegen_ms"] for x in sub), "ms")
        k["ops"] = (len(sub), "count")
        kinds[kind] = k
    return summary, kinds


def fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops its JVM (Jvm.run kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        die("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not all((root / "perfbench" / "data" / f).is_file() for f in ("documents.parquet", "events.parquet")):
        die("perfbench/data inputs missing")
    bb = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")

    try:
        import checks  # needs duckdb and pandas
    except ImportError as e:
        die(f"cannot import the checkers: {e}")
    classpath = builder.build(root, bb)
    jvm = Jvm(root, bb, classpath)
    first = not prepared(bb)
    limit = FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S
    inputs = prepare(root, bb, jvm, limit - (time.time() - started))

    out = bb / "out" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # the timed JVM gets what is left of the run's time limit, less the checks
    launched = jvm.run(["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--inputs", str(bb / "inputs"), "--out", str(out)],
                       out / "jvm.log", limit - 10 - (time.time() - started))
    res = json.loads((out / "result.json").read_text())
    ops = res["ops"]
    if a.workload == "ts_serve":
        failed, compared = checks.check_serve(ops, out / "answers.jsonl", inputs["events_path"])
        checked = f"{len(ops)} answers checked in the JVM, {compared} compared with DuckDB"
    else:
        oracle = checks.oracle_answers(bb / "inputs", out / "oracle_sql.json", inputs["batch_dir"])
        failed = checks.check_batch(ops, out, oracle)
        checked = f"{len(ops)} composite answers compared by digest with an oracle-checked or recorded answer"
    attempted = len(ops)
    timed = [o for o in ops if o["window"] == "timed"]

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cores={res['cores']} clients={res['clients']} heap={heap()} source={source_id(root)}")
    print("inputs: " + ", ".join(f"{k}={v}" for k, v in sorted(inputs.items())
                                 if k.endswith(("_rows", "_series", "_files", "_bytes"))))
    st = res["stamps"]
    print(f"stamps: loadavg1_start={st['loadavg1_start']} loadavg1_end={st['loadavg1_end']} "
          f"steal_jiffies={st['steal_jiffies']} gc_s={st['gc_s']} nproc={st['nproc']}")
    e2e = end_to_end(a.workload, res, timed, launched)
    print(f"{'metric':<28}{'value':>14}  unit")
    for name, value, unit in named_table(a.workload, res, timed, len(failed), attempted, e2e):
        print(f"{name:<28}{fmt(value):>14}  {unit}")
    print(f"correctness: {checked}; {len(failed)} failed")
    for op_id, why in list(failed.items())[:10]:
        print(f"  FAIL {op_id}: {why}")

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    missing = [k for k, (v, _) in e2e.items() if v != v]
    if missing and not a.trace:  # a traced run reports the per-layer metrics instead
        die(f"the timed window measured nothing for {', '.join(missing)}", 4)
    if a.trace:
        layers = [json.loads(x) for x in (out / "layers.jsonl").read_text().splitlines()]
        summary, kinds = per_layer(a.workload, res, ops, layers, res["cores"])
        cols = sorted(summary)
        print("per-layer, by " + ("request kind" if a.workload == "ts_serve" else "composite")
              + f" (traced window; spans in {out / 'spans.jsonl'})")
        for kind, k in kinds.items():
            print(f"  {kind}: " + " ".join(f"{c}={fmt(k[c][0])}" for c in sorted(k)))
        (out / "layers_summary.json").write_text(json.dumps(
            {"workload": summary, "kinds": kinds}, indent=1))
        metrics = {c: {"value": summary[c][0], "unit": summary[c][1]} for c in cols}
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
