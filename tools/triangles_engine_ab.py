"""Same-window A/B of the triangle-count engines (csr vs wedge) at
large edge counts — the measurement that sets the auto pick's
WEDGE_MAX_PER_EDGE crossover (plans/triangles.py).

Protocol: interleaved fresh-JVM runs on the identical deterministic
corpus (union transcript graph at n_convs=400k -> ~25.1M edges), two
passes per engine; the exact global triangle count is asserted
identical across every run.

Usage: python tools/triangles_engine_ab.py [n_convs] [timeout_sec]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from kgraph_framework_spark.session import get_spark
from kgraph_framework_spark.sources.transcripts import synthesize_transcripts
from kgraph_framework_spark.operators.edges import union_graph
from kgraph_framework_spark.plans.triangles import count_triangles

engine = sys.argv[1]; n_convs = int(sys.argv[2])
spark = get_spark(f"tri-ab-{{engine}}", cores=32, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
t = synthesize_transcripts(spark, n_convs=n_convs, seed=42)
edges = union_graph(t).persist()
n_edges = edges.count()
t0 = time.monotonic()
count = count_triangles(edges, engine=engine)
wall = time.monotonic() - t0
print(json.dumps({{
    "engine": engine, "n_edges": n_edges,
    "wall_sec": round(wall, 2), "triangles": count,
}}))
spark.stop()
"""


def run(engine: str, n_convs: int, timeout: int) -> dict:
    try:
        out = subprocess.run(
            [sys.executable, "-c", WORKER.format(repo=REPO),
             engine, str(n_convs)],
            capture_output=True, text=True, check=True, timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        return {"engine": engine, "wall_sec": None, "triangles": None,
                "dnf": f"timeout > {timeout}s"}
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    timeout = int(sys.argv[2]) if len(sys.argv) > 2 else 1800
    results = []
    # interleaved: one full sweep, then the second, so each engine sees
    # both halves of the window
    for engine in ("csr", "wedge", "csr", "wedge"):
        r = run(engine, n_convs, timeout)
        print(json.dumps(r), flush=True)
        results.append(r)
    counts = {r["triangles"] for r in results if r["triangles"] is not None}
    assert len(counts) == 1, f"triangle counts diverge: {counts}"
    summary = {
        "n_edges": next(
            r["n_edges"] for r in results if r.get("n_edges")
        ),
        "triangles": counts.pop(),
        "walls": {
            e: [r["wall_sec"] for r in results if r["engine"] == e]
            for e in ("csr", "wedge")
        },
        "count_identical": True,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
