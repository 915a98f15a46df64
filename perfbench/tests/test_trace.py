"""Plan-node counting and span self-time, without Spark."""

from perfbench.trace import NullTracer, Tracer, plan_node_counts

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (17)
+- == Final Plan ==
   ResultQueryStage (12)
   +- * Sort (11)
      +- AQEShuffleRead (10)
         +- ShuffleQueryStage (9)
            +- Exchange (8)
               +- * HashAggregate (7)
                  +- BroadcastExchange (6)
                     +- * SortMergeJoin (5)
+- == Initial Plan ==
   Sort (16)
   +- Exchange (15)
      +- Exchange (13)


(4) Exchange
Input [2]: [k#1L, count#7L]
"""


def test_counts_final_plan_shuffle_exchanges_and_sorts_only():
    assert plan_node_counts(PLAN) == {"exchanges": 1, "sorts": 1}


def test_counts_whole_plan_when_not_adaptive():
    plan = "== Physical Plan ==\n* Sort (3)\n+- Exchange (2)\n   +- Scan (1)\n\n(2) Exchange\n"
    assert plan_node_counts(plan) == {"exchanges": 1, "sorts": 1}


def test_self_time_subtracts_children():
    tr = Tracer(None)
    with tr.span("pass") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    kids = [s for s in tr.spans if s["parent"] == outer["id"]]
    assert [s["name"] for s in kids] == ["a", "b"]
    own = tr.self_times()[outer["id"]]
    total = outer["end"] - outer["start"]
    assert abs(own - (total - sum(s["end"] - s["start"] for s in kids))) < 1e-9
    assert outer["spark"] is None  # no session: no status-store delta


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("x"):
        pass
    assert tr.spans == []
