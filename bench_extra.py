"""Optimization-round isolation harness (guide §1.4): times individual
declared queries with BOTH the bench methodology (``.count()``) and the
noop sink (computes every column, isolates computation from the sink),
and captures ``.explain("formatted")`` plans to ``plans/<tag>/``.

bench.py is FROZEN for driver measurement; this file holds the extra
instrumentation the optimization round needs. Usage:

  python bench_extra.py time  <query> [...]      # N samples, noop + count
  python bench_extra.py plan  <tag> <query> [..] # plans/<tag>/<query>_<suffix>.txt

The per-stage linkage breakdown lives in ``perfbench/run.py --trace 1``,
which reports it per layer.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32) — same contract as bench.py; BENCH_EXTRA_REPEATS (default 2),
BENCH_EXTRA_SUFFIX (plan file suffix, default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SF_DIR, make_session, read_steal, stop_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))


def _queries():
    from capelinker_spark.entry_queries import QUERIES

    return QUERIES


def time_queries(names: list[str]) -> None:
    spark = make_session(CPUS)
    qs = _queries()
    out = {}
    try:
        for name in names:
            spark.sparkContext.setJobDescription(f"warmup:{name}")
            qs[name](spark, SF_DIR).count()  # warm: JIT, file listing
            samples = []
            for i in range(REPEATS):
                spark.sparkContext.setJobDescription(f"noop:{name}:{i}")
                s0, t0 = read_steal(), time.time()
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                noop_s = time.time() - t0
                spark.sparkContext.setJobDescription(f"count:{name}:{i}")
                t1 = time.time()
                qs[name](spark, SF_DIR).count()
                cnt_s = time.time() - t1
                samples.append(
                    {
                        "noop": round(noop_s, 3),
                        "count": round(cnt_s, 3),
                        "steal": read_steal() - s0,
                    }
                )
            out[name] = samples
            print(f"EXTRA {name} {json.dumps(samples)}", flush=True)
    finally:
        stop_spark(spark)
    print("EXTRA_SUMMARY " + json.dumps(out))


def write_plans(tag: str, names: list[str]) -> None:
    suffix = os.environ.get("BENCH_EXTRA_SUFFIX", "before")
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = make_session(CPUS)
    qs = _queries()
    try:
        import contextlib
        import io

        for name in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}", flush=True)
    finally:
        stop_spark(spark)


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "time":
        time_queries(sys.argv[2:])
    elif cmd == "plan":
        write_plans(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
