#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <backfill|query_mix> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program and
the harness (``perfbench/build.py``). Each run then

1. generates its inputs from ``--seed`` (``perfbench/gen.py``);
2. times session set-up in separate fresh JVMs (``SETUP_PROBES`` of them
   plus the measuring JVM itself; ``setup_s`` is their median);
3. runs the workload in one fresh JVM with ``local[nproc]`` as a closed
   loop with a single client: a cold pass, then hot passes until
   ``--seconds`` have elapsed and at least five hot passes ran
   (``perfbench/harness/Harness.scala``);
4. checks every output against the generator or the DuckDB oracles
   (``perfbench/checks.py``), outside the measured window;
5. writes the full record to
   ``perfbench/out/records/<source id>-<workload>-s<seed>-t<trace>.json``
   and prints the result as the last line of standard output.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``perfbench/README.md`` for every metric).
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Corpus scale of the query mix: 60k lineitem rows, 10k events, 200
# documents, 500 embeddings. Small enough that a cold pass, five hot passes
# and the oracle checks fit one run; the document count is what bounds the
# all-pairs DuckDB oracles of the near-duplicate queries (about 1-2 s each).
SF = 0.01
SETUP_PROBES = 2
# budget for one whole run; a run must end well inside three minutes
RUN_LIMIT_S = 170
CPUS = len(os.sched_getaffinity(0))  # what nproc reports

# Two workloads: the backfill write path, and one session's query mix.
# The mix holds five queries so that a run, with five hot passes, stays
# near one minute on 4 cores (the cold pass alone is ~15 s of JIT, codegen
# and cache builds). Queries
# whose artifacts live at fixed /tmp roots (q138, q142, q143, q151:
# AttrTable / IncrAttrTable) are left out: a run may write only inside its
# checkout.
WORKLOADS = {
    "backfill": None,
    "query_mix": [
        # near-duplicate detection over Memo-cached shingles, signatures and
        # bands (q36 builds the minhash relations, q37 the simhash ones)
        "q36_minhash_lsh", "q37_simhash",
        # multi-table SRP LSH over the vector expressions
        "q139_srp_multi_lsh",
        # event joins through the custom plans: AsOfJoin, BinnedIntervalJoin
        "q58_asof_native", "q55_interval_join"],
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "hot_s": "s", "heap_retained_mb": "MB"}

# per-layer metrics: every workload reports every one (0 where a layer is
# not on its path), so a traced record always has the same shape
PER_LAYER = {
    # backfill pipeline (pipeline.Backfill, BackfillCli)
    "backfill.rows_per_s": "1/s", "backfill.resume_s": "s",
    "backfill.out_bytes_per_row": "B",
    # sources.PagedJsonSource
    "source.pages": "count", "source.mb": "MB", "source.tasks": "count",
    "source.read_s": "s",
    # ops.MovieOps normalize + ops.DedupOps
    "dedup.dropped_rows": "count", "dedup.shuffle_mb": "MB", "normalize_dedup.s": "s",
    # ops.SinkOps / ops.Fs, checkpoint and consolidation
    "sink.files": "count", "sink.mb": "MB", "sink.month_commit_p50_s": "s",
    "sink.month_commit_max_s": "s", "checkpoint.writes": "count",
    "consolidate_s": "s", "resume.consolidate_s": "s", "resume.skipped_months": "count",
    # Memo (persisted relations)
    "memo.cache_builds": "count", "memo.cached_mb": "MB", "memo.cache_scans": "count",
    "memo.min_cache_partitions": "count",
    # queries.*Qs, one hot pass (backfill: one fresh run)
    "query.plan_ms": "ms", "query.exec_ms": "ms", "query.driver_ms": "ms",
    "query.stages": "count", "query.tasks": "count", "query.task_ms": "ms",
    "query.cpu_ms": "ms", "query.shuffle_read_mb": "MB", "query.shuffle_write_mb": "MB",
    "query.spill_mb": "MB",
    # the cold pass of a mix: builds, codegen and first-use costs
    "cold.plan_ms": "ms", "cold.driver_ms": "ms", "cold.task_ms": "ms",
    # JVM and expression codegen
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "codegen.compile_ms": "ms",
    "codegen.classes": "count",
    # the run itself
    "tmp.leaked_mb": "MB", "trace.overhead_s": "s", "failed_share": "1",
}

JVM_OPTS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx4g", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
    "-Dspark.executor.heartbeatInterval=60s", "-Dspark.network.timeout=600s"]


class Jvm:
    """Launches harness JVMs for one run, each with the run's own
    java.io.tmpdir and SPARK_LOCAL_DIRS, and never leaves one behind."""

    def __init__(self, classes, run_dir, deadline):
        self.classes, self.run_dir, self.deadline = classes, run_dir, deadline
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(os.path.join(self.tmp, "local"), exist_ok=True)
        self.n = 0

    def __call__(self, mode, **params):
        self.n += 1
        record = os.path.join(self.run_dir, f"{mode}-{self.n}.json")
        log = os.path.join(self.run_dir, f"{mode}-{self.n}.log")
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={self.tmp}",
               f"-Dspark.hadoop.hadoop.tmp.dir={self.tmp}", "-cp",
               f"{self.classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
               "perfbench.Harness", mode] +
               [f"{k}={v}" for k, v in params.items()] +
               [f"record={record}", f"tmp={self.tmp}/local", f"cpus={CPUS}"])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.tmp, "local"))
        with open(log, "w") as out:
            launch = time.time()
            p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                 cwd=self.run_dir, start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if rc != 0 or not os.path.exists(record):
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"harness {mode} {'timed out' if rc is None else f'exited {rc}'}")
        with open(record) as f:
            rec = json.load(f)
        rec["setup_s"] = rec["ready_ms"] / 1000.0 - launch
        return rec


def run_mix(jvm, args, run_dir, queries):
    corpus = os.path.join(run_dir, "corpus")
    sizes = gen.corpus(args.seed, corpus, SF)
    order = list(queries)
    random.Random(args.seed).shuffle(order)
    result_dir = os.path.join(run_dir, "results")
    rec = jvm("mix", data=corpus, queries=",".join(order), seconds=args.seconds,
              trace=args.trace, check=result_dir)
    seen, errs = checks.check_queries(corpus, result_dir, rec["oracles"], order)
    rec["input"] = sizes
    rec["order"] = order
    rec["results"] = seen
    rec["check_errors"] = errs
    rec["failed"] = len(rec["errors"]) + len(errs)
    if args.trace:
        t = rec["trace"]
        hot, cold = t["hot_pass"], t["cold_pass"]
        rec["layers"] = {
            "memo.cache_builds": t["memo.cache_builds"], "memo.cached_mb": t["memo.cached_mb"],
            "memo.cache_scans": hot["cache_scans"],
            "memo.min_cache_partitions": t["memo.min_cache_partitions"],
            **{f"query.{k}": hot[k] for k in (
                "plan_ms", "exec_ms", "driver_ms", "stages", "tasks", "task_ms", "cpu_ms",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")},
            "cold.plan_ms": cold["plan_ms"], "cold.driver_ms": cold["driver_ms"],
            "cold.task_ms": cold["task_ms"],
            **{k: t[k] for k in ("jvm.gc_ms", "jvm.jit_ms", "codegen.compile_ms", "codegen.classes")},
            "trace.overhead_s": t["overhead_s"]}
        rec["per_query"] = {q: {"cold_s": rec["queries"][q]["cold_s"],
                                "hot_s": rec["queries"][q]["hot_s"],
                                "plan_hash": hot["per_query"][q]["plan_hash"]} for q in order}
    return rec


def run_backfill(jvm, args, run_dir):
    pages_dir, work = os.path.join(run_dir, "pages"), os.path.join(run_dir, "work")
    man = gen.pages(args.seed, pages_dir)
    months = gen.month_ranges()
    frm, to = months[0][0], months[-1][1]
    genres = ",".join(f"{k}:{v}" for k, v in gen.GENRES.items())
    # crash after the checkpoint marks half the months; the resume re-reads the rest
    crash = len(months) // 2
    rec = jvm("backfill", pages=pages_dir, work=work, seconds=args.seconds, trace=args.trace,
              genres=genres, crash=crash, **{"from": frm, "to": to})
    csv_name, parquet_name = (f"tmdb_movies_{frm[:4]}.csv", f"tmdb_movies_{frm[:4]}.parquet")
    errs, masters = [], []
    for out in [f"fresh-{i}" for i in range(rec["fresh_runs"])] + ["resume"]:
        n, h, e = checks.check_backfill(man, f"{work}/{out}", csv_name, parquet_name)
        masters.append((n, h))
        errs += e
    if len({h for _, h in masters}) != 1:
        errs.append("the masters of the fresh runs and the resume differ")
    rec["check_errors"] = errs
    rec["failed"] = len(rec["errors"]) + len(errs)
    rec["input"] = {k: man[k] for k in ("rows", "pages", "dups")}
    master_rows = max(1, masters[0][0])
    _, out_b = checks.tree_bytes(f"{work}/fresh-0")
    rec["backfill.rows_per_s"] = man["rows"] / rec["hot_s"] if rec["hot_s"] else None
    if args.trace:
        t = rec["trace"]
        files, data_b = checks.tree_bytes(f"{work}/fresh-0", data_only=True)
        rec["layers"] = {
            "backfill.rows_per_s": rec["backfill.rows_per_s"],
            "backfill.resume_s": rec["resume_s"],
            "backfill.out_bytes_per_row": out_b / master_rows,
            "source.pages": man["pages"],
            "source.mb": checks.tree_bytes(pages_dir)[1] / 1048576.0,
            "dedup.dropped_rows": man["rows"] - master_rows,
            "sink.files": files, "sink.mb": data_b / 1048576.0,
            **{k: v for k, v in t.items() if k != "overhead_s" and not k.startswith("query.")},
            **{k: t[k] for k in ("query.plan_ms", "query.stages", "query.tasks", "query.task_ms",
                                 "query.cpu_ms", "query.driver_ms")},
            "query.shuffle_write_mb": t["dedup.shuffle_mb"],
            "trace.overhead_s": t["overhead_s"]}
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated runner still reaps its JVM (Jvm.__call__'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S

    classes, sid = build.ensure()
    deadline = max(deadline, time.monotonic() + 150)  # a first run spent its budget compiling
    run_dir = os.path.join(HERE, "out", "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm = Jvm(classes, run_dir, deadline)

    setups = [jvm("probe")["setup_s"] for _ in range(SETUP_PROBES)]
    if args.workload == "backfill":
        rec = run_backfill(jvm, args, run_dir)
    else:
        rec = run_mix(jvm, args, run_dir, WORKLOADS[args.workload])
    setups.append(rec["setup_s"])
    rec["setup_all_s"] = setups
    # temp files the program left behind in the run's java.io.tmpdir
    leaked_b = checks.tree_bytes(jvm.tmp)[1]
    attempted = rec["attempted"]
    failed = rec["failed"]

    if args.trace:
        layers = {k: 0 for k in PER_LAYER}
        layers.update(rec["layers"])
        layers["tmp.leaked_mb"] = leaked_b / 1048576.0
        layers["failed_share"] = failed / attempted
        metrics = {k: {"value": float(layers[k] or 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": statistics.median(setups), "cold_s": rec["cold_s"],
                  "hot_s": rec["hot_s"], "heap_retained_mb": rec["heap_retained_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    records = os.path.join(HERE, "out", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{sid}-{args.workload}-s{args.seed}-t{args.trace}"
    rec.pop("oracles", None)  # the program's own SQL; no need to copy it
    if "spans" in rec:
        with open(os.path.join(records, name + ".spans.json"), "w") as f:
            json.dump(rec.pop("spans"), f)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
               source_id=sid, cpus=CPUS, tmp_leaked_mb=leaked_b / 1048576.0,
               result=result)
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    for e in rec["check_errors"] + [f"{k}: {v}" for k, v in rec["errors"].items()]:
        sys.stderr.write(f"[perfbench] {e}\n")
    if failed == 0:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
