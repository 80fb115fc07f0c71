#!/usr/bin/env python3
"""Extraction benchmark: docs/s of the page extractor on seeded workloads.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 10 --trace 0

Runs one workload (see ``gen.WORKLOADS``) on local[nproc] through the
public API, checks every pass against ``extractor.oracle`` and prints the
metrics by name and unit.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``, with ``--trace 1``
the per-layer ones (see ``layers.py``).  Full records (samples, versions,
Spark confs) and traces go to ``.perfbench_work/`` in the checkout.

Closed loop: one driver runs one job at a time, one pass after another,
for ``--seconds`` seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_PROBES = 1  # set-ups in child processes, besides the run's own
MIN_PASSES = 2
WARMUP_S = 6.0  # untimed passes after the cold one: JIT and worker pools settle


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one cold set-up in a fresh process, over the parent's pages
    p.add_argument("--setup-probe", metavar="WORK_DIR", help=argparse.SUPPRESS)
    p.add_argument("--golden", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def setup_probe(args, workload, work: str) -> int:
    """Child-process mode: build_session + one cold checked pass."""
    from passes import check_pass, run_pass
    from sparkenv import nproc, pin_env, start_session, stop_session

    golden = tuple(int(x) for x in args.golden.split(","))
    pages_path = os.path.join(os.path.dirname(work), "pages")
    pin_env(work)
    t0 = time.perf_counter()
    spark = start_session(work, nproc())
    try:
        _wall, obs = run_pass(spark, workload, pages_path, os.path.join(work, "out"))
        setup_s = time.perf_counter() - t0
        problems, _ = check_pass(spark, workload, obs, golden, pages_path, os.path.join(work, "out"))
    finally:
        stop_session(spark)
    print(json.dumps({"setup_s": setup_s, "problems": problems}))
    return 0


def run_probe(args, golden, work: str, i: int) -> dict:
    probe_dir = os.path.join(work, f"probe{i}")
    os.makedirs(probe_dir)
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", "0",
        "--setup-probe", probe_dir, "--golden", f"{golden[0]},{golden[1]}",
    ]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150, check=False)
    shutil.rmtree(probe_dir, ignore_errors=True)
    if proc.returncode != 0:
        return {"setup_s": None, "problems": [f"set-up probe exited {proc.returncode}"]}
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "extractor")):
        print(f"perfbench: no extractor package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import gen
    import sparkenv

    workload = gen.WORKLOADS.get(args.workload)
    if workload is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(gen.WORKLOADS)}",
              file=sys.stderr)
        return 2
    why = sparkenv.refuse_foreign_env()
    if why:
        print(f"perfbench: refusing to run: {why}", file=sys.stderr)
        return 2
    if args.setup_probe:
        return setup_probe(args, workload, args.setup_probe)

    work = fresh_dir(os.path.join(WORK_ROOT, f"{workload.name}-{args.seed}-{os.getpid()}"))
    os.makedirs(work)
    sparkenv.pin_env(work)
    try:
        record = measure(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    name = f"{'trace' if args.trace else 'result'}-{workload.name}-seed{args.seed}.json"
    with open(os.path.join(WORK_ROOT, name), "w") as fh:
        json.dump(record, fh, indent=1)
    for line in record["lines"]:
        print(line)
    print(json.dumps(record["result"]))
    return 0


def measure(args, workload, work: str) -> dict:
    import gen
    import sparkenv
    from extractor.oracle import golden_for_documents
    from passes import check_pass, run_pass
    from stats import median, summary

    cores = sparkenv.nproc()
    docs = gen.make_docs(workload, args.seed)
    pages_path = os.path.join(work, "pages")
    shape = gen.write_pages(docs, pages_path, files=4 * cores)
    golden_rows = golden_for_documents(docs, gen.CFG)
    golden = gen.golden_digest(golden_rows)
    record = {"workload": workload.name, "seed": args.seed, "input": shape, "problems": []}
    attempted = failed = 0

    def tally(problems):
        nonlocal attempted, failed
        attempted += 1
        if problems:
            failed += 1
            record["problems"].extend(problems)
            print("perfbench: check failed: " + "; ".join(problems), file=sys.stderr)

    setup = []
    if not args.trace:
        for i in range(SETUP_PROBES):
            probe = run_probe(args, golden, work, i)
            tally(probe["problems"])
            if probe["setup_s"] is not None:
                setup.append(probe["setup_s"])

    t0 = time.perf_counter()
    spark = sparkenv.start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        out_dir = os.path.join(work, "out")
        if args.trace:
            import layers

            metrics, trace = layers.traced_run(
                spark, workload, docs, golden_rows, golden, shape, pages_path, work,
                session_s, tally,
            )
            record["trace"] = trace
        else:
            _wall, obs = run_pass(spark, workload, pages_path, fresh_dir(out_dir))
            setup.append(time.perf_counter() - t0)
            tally(check_pass(spark, workload, obs, golden, pages_path, out_dir)[0])
            metrics = timed_passes(spark, workload, pages_path, out_dir, golden, shape,
                                   args.seconds, tally, record)
            metrics["setup_s"] = (median(setup), "s")
            record["samples"]["setup_s"] = setup
        record["environment"] = sparkenv.environment(spark)
    finally:
        sparkenv.stop_session(spark)

    record["result"] = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    lines = [
        f"# {workload.name} seed={args.seed} docs={shape['docs']} "
        f"payload_bytes={shape['payload_bytes']} nproc={cores}",
    ]
    lines += [f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    lines.append(f"failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted} passes)")
    lines += [f"{k} {v:.6g} {u}" for k, (v, u) in record.get("corpus_only", {}).items()]
    if "trace" in record:
        rec = record["trace"]["reconciliation"]
        lines.append(
            f"# isolated layers sum to {rec['layer_sum_s']:.3f} s against the untraced pass "
            f"{median(rec['untraced_pass_s']):.3f} s; traced pass self times: "
            + ", ".join(f"{k} {v:.3f} s" for k, v in rec["traced_pass_self_s"].items())
        )
    for k, v in record.get("samples", {}).items():
        s = summary(v)
        lines.append(f"#   {k}: n={s['n']} median={s['median']:.6g}"
                     + (f" q1={s['q1']:.6g} q3={s['q3']:.6g}" if "q1" in s else ""))
    record["lines"] = lines
    return record


def timed_passes(spark, workload, pages_path, out_dir, golden, shape, seconds, tally, record):
    """The measured loop: passes back to back for ``seconds``."""
    import sparkenv
    from passes import check_pass, run_pass
    from stats import median

    def attempt(rss=None):
        """One checked pass: (wall, extras), or None when it raised.  RSS is
        sampled during the pass, not during its check."""
        fresh_dir(out_dir)
        if rss:
            rss.start()
        try:
            wall, obs = run_pass(spark, workload, pages_path, out_dir)
        except Exception as exc:  # a failed pass is counted, not fatal
            tally([f"pass raised {type(exc).__name__}: {exc}"])
            return None
        finally:
            if rss:
                rss.stop()
        problems, extra = check_pass(spark, workload, obs, golden, pages_path, out_dir)
        tally(problems)
        return wall, extra

    warm = time.perf_counter()
    while time.perf_counter() - warm < WARMUP_S:
        attempt()
    walls, extras, tries = [], [], 0
    with sparkenv.RssSampler() as rss:
        start = time.perf_counter()
        while tries < MIN_PASSES or time.perf_counter() - start < seconds:
            tries += 1
            done = attempt(rss)
            if done:
                walls.append(done[0])
                extras.append(done[1])
    if not walls:
        raise RuntimeError("every timed pass raised")
    peaks_mb = [p / 2**20 for p in rss.peaks if p]
    record["samples"] = {"pass_s": walls, "peak_rss_mb": peaks_mb}
    metrics = {
        "docs_per_s": (shape["docs"] / median(walls), "docs/s"),
        "peak_rss_mb": (median(peaks_mb), "MB"),
    }
    if workload.writes:
        record["samples"]["resume_s"] = [e["resume_s"] for e in extras]
        # printed for corpus_build only; BENCHMARK.json keeps the metrics
        # every workload reports, and lists these per layer (writer.*)
        record["corpus_only"] = {
            "write_amp": (median([e["bytes_written"] for e in extras]) / shape["payload_bytes"],
                          "ratio"),
            "resume_s": (median(record["samples"]["resume_s"]), "s"),
        }
    return metrics


if __name__ == "__main__":
    sys.exit(main())
