"""Stage-level wall/bytes breakdown of one blocked NN-descent build.

The like-for-like 1M point's residue vs the reference is "movement, not
arithmetic" — but WHICH edge of the 4-shuffle superstep dominates decides
the next optimization. This probe runs a blocked build with the Spark UI
enabled and dumps every completed stage's executor run/CPU time and
shuffle read/write bytes from the REST API, grouped by job, so the
per-round wall can be attributed to concrete dataflow edges (sample ->
pairgen -> gather-1 -> gather-2 -> merge).

Usage: python tools/nnd_stage_probe.py [n_vecs] [dim] [rounds] [cores] [tau]
                                       [payload]
(tau: 1=emit-site threshold filter on [default], 0=off — for the A/B.
payload: fp32 [default] / int8 — for the wire-payload byte A/B;
shuffle bytes are deterministic, so one run per payload decides it.)
Prints a per-stage table (desc by executorRunTime) plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))
os.environ["SPARK_GRAFT_UI"] = "1"

from knn_midscale_bench import synth_vectors_hier  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    tau = bool(int(sys.argv[5])) if len(sys.argv) > 5 else True
    payload = sys.argv[6] if len(sys.argv) > 6 else "fp32"

    from kgraph_framework_spark.operators.nnd_blocked import (
        nn_descent_blocked,
    )
    from kgraph_framework_spark.session import get_spark

    spark = get_spark(
        f"nnd-stage-probe-{n_vecs}", cores=cores,
        shuffle_partitions=cores * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = synth_vectors_hier(spark, n_vecs, cores * 2, dim=dim).persist()
    emb.count()

    t0 = time.monotonic()
    pool, metrics = nn_descent_blocked(
        spark, emb, k=50, l=70, s=10, max_iters=rounds,
        min_update_rate=0.0, seed=42, tau_filter=tau, payload=payload,
    )
    n_edges = pool.count()
    wall = time.monotonic() - t0

    base = "http://localhost:4040/api/v1/applications"
    app_id = _get(base)[0]["id"]
    jobs = _get(f"{base}/{app_id}/jobs?status=succeeded")
    stages = {
        s["stageId"]: s
        for s in _get(f"{base}/{app_id}/stages?status=COMPLETE")
    }

    # attribute each stage to the job that ran it (first wins)
    rows = []
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in sorted(job["stageIds"]):
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            rows.append(
                {
                    "job": job["jobId"],
                    "stage": sid,
                    "name": st["name"].split("\n")[0][:60],
                    "tasks": st["numCompleteTasks"],
                    "run_s": round(st["executorRunTime"] / 1e3, 1),
                    "cpu_s": round(st["executorCpuTime"] / 1e9, 1),
                    "sh_read_mb": round(st["shuffleReadBytes"] / 2**20),
                    "sh_write_mb": round(st["shuffleWriteBytes"] / 2**20),
                    "wall_s": round(
                        st.get("executorDeserializeTime", 0) / 1e3
                        + st["executorRunTime"] / 1e3,
                        1,
                    ),
                }
            )

    rows.sort(key=lambda r: -r["run_s"])
    hdr = ("job", "stage", "tasks", "run_s", "cpu_s",
           "sh_read_mb", "sh_write_mb", "name")
    print("\t".join(hdr))
    for r in rows:
        print("\t".join(str(r[c]) for c in hdr))

    print(
        json.dumps(
            {
                "n_vecs": n_vecs,
                "dim": dim,
                "rounds": rounds,
                "tau_filter": tau,
                "payload": payload,
                "wall_sec": round(wall, 1),
                "round_walls": [m["wall_sec"] for m in metrics],
                "n_edges": n_edges,
                "total_shuffle_write_mb": sum(
                    r["sh_write_mb"] for r in rows
                ),
                "total_executor_run_s": round(
                    sum(r["run_s"] for r in rows), 1
                ),
                "total_executor_cpu_s": round(
                    sum(r["cpu_s"] for r in rows), 1
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
