"""r11 optimization profiler: run ONE catalog query standalone (noop
sink, warm second pass) and decompose its wall into Spark jobs via the
UI REST API — per-job duration + the GAPS between jobs (driver-side
planning/collect/manifest time never shows up in job walls, and these
fixed-overhead queries move only MBs, so the gap total is usually the
story).

Usage: python tools/probe_query_jobs.py <query> [sf_dir] [--cold]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _jobs(spark):
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/jobs?status=succeeded"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read().decode())


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/root/testdata/sf0.1"
    cold = "--cold" in sys.argv

    from etlbench.trace import job_gaps, rest_time
    from kafkaconnect_spark.operators.dedup import release_cached
    from kafkaconnect_spark.queries import QUERY_CATALOG
    from kafkaconnect_spark.session import cpus, get_spark

    spark = get_spark(
        "kc-probe-jobs",
        master=f"local[{cpus()}]",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn = QUERY_CATALOG[name].fn

    n_pass = 1 if cold else 2
    for i in range(n_pass):  # pass 0 = warmup (matches bench), last timed
        spark.sparkContext.setJobGroup(f"probe:{i}", name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        release_cached(df)
        spark.catalog.clearCache()
        print(f"pass {i}: {wall:.2f}s", flush=True)

    tag = f"probe:{n_pass - 1}"
    jobs = [j for j in _jobs(spark) if (j.get("jobGroup") or "") == tag]
    jobs.sort(key=lambda j: j["jobId"])
    rows = []
    for j in jobs:
        t0, t1 = rest_time(j["submissionTime"]), rest_time(j["completionTime"])
        rows.append((j["jobId"], t0, t1, t1 - t0,
                     (j.get("name") or j.get("description") or "")[:110]))
    total_job, gaps = job_gaps([{"start": r[1], "end": r[2]} for r in rows])
    print(f"\n{len(rows)} jobs, job-time total {total_job:.2f}s, "
          f"inter-job gap total {gaps:.2f}s  (wall {wall:.2f}s)")
    print(f"{'job':>4} {'dur_s':>7} {'gap_before':>10}  description")
    prev_end = None
    for jid, t0, t1, dur, desc in rows:
        gap = 0.0 if prev_end is None else t0 - prev_end
        prev_end = t1
        print(f"{jid:>4} {dur:7.2f} {gap:10.2f}  {desc}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
