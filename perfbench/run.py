"""One benchmark run: one workload, one seed, closed loop on local[k].

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run generates its seeded corpus
(untimed), starts Spark, builds the workload's dimensions and runs one
pilot pass -- together ``setup_s`` -- and then runs WARM_PASSES warm
passes, one at a time, unless the ``--seconds`` window ends first.  Every
pass's outputs are compared with the pilot's, and the last pass's with an
independent computation.  It prints one report line per metric and, last,
one JSON object.  ``--trace 1`` runs an untraced and a traced pass and
reports the per-layer metrics instead; its spans are written to
``.bench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a pass slower than this counts as failed (timeout)
PASS_TIMEOUT_S = 90.0
# warm passes per run: a fixed count, because passes keep getting faster
# while the JIT warms up, so a varying count would bias the median.  One,
# because set-up takes ~40 s and a run should stay near a minute.
WARM_PASSES = 1

LAYERS = ("sources.tables", "operators.extract", "operators.linking",
          "operators.triples", "operators.stats", "operators.canonicalize",
          "sources.checkpoint")
COMMON = (("self_s", "s"), ("rows_out", "count"), ("jobs", "count"),
          ("shuffle_mb", "MB"), ("gc_s", "s"), ("task_skew", "ratio"))
EXTRA = {"session.start_s": "s",
         "operators.extract.mentions_per_doc": "mentions/doc",
         "operators.linking.linked_ratio": "ratio",
         "sources.checkpoint.write_mb": "MB", "trace.self_s": "s",
         "trace.overhead_s": "s"}


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(2048, phys_mb // 4)}m"


def scratch_env(work: str) -> None:
    """Point every temporary file of this process, the JVM and the python
    workers into `work`, and let the workers import the package from the
    checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark(work: str, trace: bool):
    """local[k] session whose scratch files all stay under `work`."""
    from entity_extractor_linker_api_v2_spark.session import get_spark
    k = cores()
    conf = {"spark.driver.memory": driver_memory(),
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.ui.enabled": "true",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{k}]",
                      shuffle_partitions=k, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its python workers, and wait
    until every process this run started has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:  # the connection broke mid-call, e.g. on SIGTERM
        pass
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of every process this run
    started: the JVM and the python workers."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def record_layer(span, df=None, rows=None, per_doc=None, linked_of=None,
                 write_mb=None) -> int:
    """Counters of one layer span, collected right after it closes (their
    jobs run in the enclosing pass span, which ``trace.self_s`` reports)."""
    span["rows_out"] = df.count() if rows is None else rows
    if per_doc is not None:
        span["docs_in"] = per_doc
    if linked_of is not None:
        span["linked"] = df.where("status = 'linked'").count()
        span["mentions_in"] = linked_of.count()
    if write_mb is not None:
        span["write_mb"] = write_mb
    return span["rows_out"]


def layer_metrics(tr, root: dict, rest: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass (the children of `root`)."""
    out: dict[str, float] = {}
    acc: dict[str, dict] = {}
    for s in tr.spans:
        if s["parent"] != root["id"]:
            continue
        a = acc.setdefault(s["name"], {})
        r = rest.get(s["group"], {})
        for key, val in (("self_s", tr.self_seconds(s)), ("jobs", s["jobs"]),
                         ("rows_out", s.get("rows_out", 0)),
                         ("shuffle_mb", r.get("shuffle_mb", 0.0)),
                         ("gc_s", r.get("gc_s", 0.0)),
                         ("task_med_s", r.get("task_med_s", 0.0)),
                         ("task_max_s", r.get("task_max_s", 0.0)),
                         ("docs_in", s.get("docs_in", 0)),
                         ("linked", s.get("linked", 0)),
                         ("mentions_in", s.get("mentions_in", 0)),
                         ("write_mb", s.get("write_mb", 0.0))):
            a[key] = a.get(key, 0) + val
    for name in LAYERS:
        a = acc.get(name, {})
        for key, _ in COMMON:
            if key == "task_skew":
                med = a.get("task_med_s", 0.0)
                val = a.get("task_max_s", 0.0) / med if med else 0.0
            else:
                val = a.get(key, 0)
            out[f"{name}.{key}"] = float(val)
    ex = acc.get("operators.extract", {})
    ln = acc.get("operators.linking", {})
    out["operators.extract.mentions_per_doc"] = (
        ex["rows_out"] / ex["docs_in"] if ex.get("docs_in") else 0.0)
    out["operators.linking.linked_ratio"] = (
        ln["linked"] / ln["mentions_in"] if ln.get("mentions_in") else 0.0)
    out["sources.checkpoint.write_mb"] = float(
        acc.get("sources.checkpoint", {}).get("write_mb", 0.0))
    out["trace.self_s"] = tr.self_seconds(root)
    return out


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{key}", unit) for layer in LAYERS for key, unit in COMMON]
    return names + list(EXTRA.items())


def run(args, run_id: str, work: str) -> dict:
    import workloads
    from spans import Tracer

    W = workloads.WORKLOADS[args.workload]
    W.generate(work, args.seed)

    t0 = time.perf_counter()
    spark = start_spark(work, trace=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        wl = W(spark, work, args.seed)
        wl.setup()
        out = wl.run_pass()  # the pilot pass: cold, part of set-up
        setup_s = time.perf_counter() - t0
        ref = wl.digest(out)
        wl.release(out)

        tr = Tracer(spark, run_id) if args.trace else None
        # closed loop: the next pass starts when this one has ended, up to
        # WARM_PASSES passes while the window lasts; a traced run measures
        # one untraced and one traced pass
        plan = [False, True] if tr else [False] * WARM_PASSES
        passes: list[dict] = []  # wall, ok, traced
        errors: list[str] = []
        start = time.perf_counter()
        for traced in plan:
            if (passes and not traced
                    and time.perf_counter() - start >= args.seconds):
                break
            t = time.perf_counter()
            try:
                if traced:
                    with tr.span("trace") as root:
                        wl.traced_pass(tr, record_layer)
                    out = None
                else:
                    out = wl.run_pass()
                wall = time.perf_counter() - t
                ok = wall <= PASS_TIMEOUT_S
                if not ok:
                    errors.append(f"pass {len(passes)} took {wall:.1f} s")
                if out is not None:
                    got = wl.digest(out)
                    if got != ref:
                        ok = False
                        errors.append(f"pass {len(passes)} digest {got} != {ref}")
            except Exception:  # a failed operation is counted, not fatal
                wall, ok, out = time.perf_counter() - t, False, None
                errors.append(traceback.format_exc())
            passes.append({"wall": wall, "ok": ok, "traced": traced,
                           "root": root if traced else None, "out": out})
        last = next((p for p in reversed(passes) if p["out"] is not None
                     and p["ok"]), None)
        if last is None:
            errors.append("no untraced pass completed")
        else:
            try:
                found = wl.final_check(last["out"])
            except Exception:  # a check that cannot run is a failed check
                found = [traceback.format_exc()]
            if found:
                last["ok"] = False
                errors += found
        for p in passes:
            if p["out"] is not None:
                wl.release(p["out"])
        rss = peak_rss_mb()

        result = {"n_docs": W.n_docs, "session_s": session_s,
                  "setup_s": setup_s, "passes": passes, "errors": errors,
                  "peak_rss_mb": rss, "layers": None}
        if tr:
            rest = tr.stage_metrics()
            per_pass = [layer_metrics(tr, p["root"], rest)
                        for p in passes if p["traced"] and p["ok"]]
            untraced = [p["wall"] for p in passes
                        if not p["traced"] and p["ok"]]
            traced_w = [p["wall"] for p in passes if p["traced"] and p["ok"]]
            layer = {k: statistics.median(m[k] for m in per_pass)
                     for k in per_pass[0]} if per_pass else {}
            layer["session.start_s"] = session_s
            result["traced_wall_s"] = statistics.median(traced_w) if traced_w else 0.0
            layer["trace.overhead_s"] = (
                statistics.median(traced_w) - statistics.median(untraced)
                if traced_w and untraced else 0.0)
            result["layers"] = layer
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tr.dump(os.path.join(ROOT, ".bench_out", f"{run_id}-spans.jsonl"))
        return result
    finally:
        stop_spark(spark)


def report(args, res: dict) -> dict:
    """Print one line per metric and build the result object."""
    ok = [p for p in res["passes"] if p["ok"] and not p["traced"]]
    attempted = 1 + len(res["passes"])  # the pilot and every measured pass
    failed = sum(not p["ok"] for p in res["passes"])
    walls = [p["wall"] for p in ok]
    wl = args.workload
    for e in res["errors"]:
        print(f"ERROR {wl}: {e}", file=sys.stderr)
    metrics: dict[str, dict] = {}
    if args.trace:
        for name, unit in per_layer_names():
            metrics[name] = {"value": float(res["layers"].get(name, 0.0)),
                             "unit": unit}
        selfs = sum(v for k, v in res["layers"].items()
                    if k.endswith(".self_s"))
        print(f"{wl} trace accounting: layer self times + trace.self_s = "
              f"{selfs:.3f} s of {res['traced_wall_s']:.3f} s traced wall")
    else:
        metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
        metrics["docs_per_s"] = {
            "value": res["n_docs"] / statistics.median(walls) if walls else 0.0,
            "unit": "docs/s"}
        metrics["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
    samples = {"docs_per_s": len(walls)}
    for name, m in metrics.items():
        print(f"{wl} {name} {m['value']:.6g} {m['unit']} "
              f"(samples {samples.get(name, 1)})")
    print(f"{wl} error_rate {failed / attempted:.6g} ratio "
          f"({failed} failed of {attempted} attempted)")
    print(f"{wl} pass_walls_s " + " ".join(
        f"{p['wall']:.3f}{'T' if p['traced'] else ''}" for p in res["passes"]))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    try:
        scratch_env(work)
        # the package under test, and tests/ for its reference pipeline
        sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
        try:
            import workloads
        except ImportError as e:
            print(f"perfbench: cannot import the program under test: {e}",
                  file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(workloads.WORKLOADS)}")
        res = run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
