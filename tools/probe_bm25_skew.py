"""Demonstrate that bm25_topk_batch's per-query hot-key skew is
mitigated at the plan level (guide §2.5).

The hazard: the final per-query ranking window partitions by ``qid``,
so a stop-word query term — one matching nearly every document —
would funnel its whole match set into ONE reduce partition. The
mitigation Spark applies to the operator's ``rank <= k`` shape is
``WindowGroupLimit`` in *Partial* mode below the qid Exchange: every
map task keeps only its local top-k rows per query, bounding the
shuffle at k x maps x queries rows no matter how hot the term is.
(Earlier round notes called this "salting"; the engaged mechanism is
the two-phase window group limit, which achieves the same bound
without a salt column.)

The probe runs a deliberately stop-word-heavy query batch twice —
mitigation ON (default) and OFF
(``spark.sql.optimizer.windowGroupLimitThreshold=-1``) — and reports
the rows crossing every Exchange plus the WindowGroupLimit outputs,
read from the SQL status store (the same numbers the SQL tab shows).
Row counts are deterministic, so the ON/OFF delta is box-noise-immune
evidence. Writes the numbers + both plans to
plans/r18/bm25_topk_batch_skew_probe.txt.

Usage:
    SPARK_GRAFT_CPUS=8 python tools/probe_bm25_skew.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

# corpus-hot terms: each matches a large fraction of the synthetic
# documents table — the worst case for the per-query window
QUERIES = [
    (0, "the data and"),
    (1, "the of to"),
    (2, "a in is the"),
    (3, "data the row"),
    (4, "the"),
]


def execution_ids(store) -> set:
    execs = store.executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def write_execution(store, before: set) -> int:
    """The id of the noop write's own SQL execution: the one ROOT
    execution (not a nested subquery/broadcast execution) that
    appeared since ``before`` was taken. The last entry of
    ``executionsList()`` is not reliably it — a nested execution, or
    one from another thread of the session, can be listed after it."""
    for _ in range(50):
        new = sorted(execution_ids(store) - before)
        roots = [
            e for e in new
            if store.execution(e).get().rootExecutionId() == e
        ]
        if roots:
            if len(roots) > 1:
                raise RuntimeError(
                    f"expected one new root SQL execution, got {roots}"
                )
            return roots[0]
        time.sleep(0.2)  # the status listener has not caught up yet
    raise RuntimeError("the noop write's SQL execution never appeared")


def node_rows(store, eid):
    """(node_id, node_name, metric_name, value) for the row/record
    metrics of the execution's Exchange/WindowGroupLimit nodes."""
    time.sleep(2)  # let the status listener drain
    mets = store.executionMetrics(eid)
    g = store.planGraph(eid)
    nodes = g.allNodes()
    out = []
    for i in range(nodes.size()):
        n = nodes.apply(i)
        nm = n.name()
        if nm not in ("Exchange", "WindowGroupLimit"):
            continue
        ms = n.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if "records written" in m.name() or "output rows" in m.name():
                v = mets.get(m.accumulatorId())
                if v is not None and not v.isEmpty():
                    out.append((n.id(), nm, m.name(), v.get()))
    return out


def main() -> int:
    from parq_tools_spark import get_spark
    from parq_tools_spark.operators.search import bm25_topk_batch

    spark = get_spark("bm25-skew-probe")
    store = spark._jsparkSession.sharedState().statusStore()
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text"
    )
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")

    report = []
    for label, threshold in (("mitigated", None), ("unmitigated", "-1")):
        if threshold is not None:
            spark.conf.set(
                "spark.sql.optimizer.windowGroupLimitThreshold", threshold
            )
        out = bm25_topk_batch(docs, qdf, k=10)
        before = execution_ids(store)
        out.write.format("noop").mode("overwrite").save()
        rows = node_rows(store, write_execution(store, before))
        plan_str = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        report.append((label, rows, plan_str))
        print(f"==== {label} ====")
        for nid, nm, mname, v in rows:
            print(f"  node[{nid}] {nm}: {mname} = {v}")
        spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r18",
        "bm25_topk_batch_skew_probe.txt",
    )
    with open(out_path, "w") as f:
        f.write(
            f"bm25_topk_batch hot-key probe at {SF}, k=10, "
            f"queries={QUERIES!r}\n\n"
        )
        for label, rows, plan_str in report:
            f.write(f"==== {label} ====\n")
            for nid, nm, mname, v in rows:
                f.write(f"node[{nid}] {nm}: {mname} = {v}\n")
            f.write("\n" + plan_str + "\n\n")
    print(f"[ok] {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
