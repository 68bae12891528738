"""Quick self-test of the benchmark at sf0.001 (a few minutes).

Runs every workload once, csv_fresh also traced, and checks that the
runs are correct, that each known graft defect shows up as a failed op
carrying its error, that nothing else fails, and that a traced run
reports every per-layer metric BENCHMARK.json names. It also checks
that another failure of an op that has a known defect is not taken for
that defect, in a timed pass or a later one.
"""
import argparse
import json
import os


def classifier_problems(bench, failed_ops):
    """Each known defect's real error, swapped for another failure of the
    same op, must make the verdict incorrect."""
    problems = []
    others = {
        ("db_write", "lineitem"): "lineitem.l_shipdate (date) at rowid = 7: CSV '2001-06-07', "
                                  ".db holds \"2001-06-08\" (text)",
        ("db_write", "events"): "killed: sqlite3 (pid 1) made no CPU progress for 1.0 s; "
                                "java.lang.IllegalStateException: sqlite3 failed (rc=137): "
                                "Error: near line 3: database or disk is full",
        ("load", "orders"): "org.apache.spark.SparkException: Job aborted | root cause: "
                            "java.lang.ClassCastException: class java.lang.Long cannot be cast to "
                            "class java.lang.Integer at graft.operators.Shape$.apply(Shape.scala:10)",
    }
    for kind, table, _, _ in bench.KNOWN_DEFECTS:
        real = [f for f in failed_ops if f.startswith(f"{kind} {table}: ")]
        if not real:
            continue  # reported by the caller
        real_op = {"kind": kind, "name": table, "error": real[0].split(": ", 1)[1]}
        if not bench.known_defect(real_op):
            problems.append(f"{kind} {table}: its real error is not recognised")
        for phase in ("untraced", "traced", "untraced_after"):
            ops = [{"phase": "untraced", "kind": "query", "name": "q", "ok": True, "error": ""},
                   {"phase": phase, "kind": kind, "name": table, "ok": False,
                    "error": others[(kind, table)]}]
            if bench.verdict(ops)[0]:
                problems.append(f"{kind} {table}: another failure in a {phase} pass passed as known")
    return problems


def main(run, build_dir, classes):
    import run as bench
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload, trace in [("csv_fresh", 0), ("csv_fresh", 1), ("query_board", 0)]:
        args = argparse.Namespace(workload=workload, seed=7, seconds=1.0, trace=trace, scale="sf0.001")
        result, record = run(args, build_dir, classes)
        tag = f"{workload} trace={trace}"
        print(f"self-test {tag}: {json.dumps(result)}")
        if not result["correct"]:
            problems.append(f"{tag}: not correct")
        want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        if set(result["metrics"]) != want:
            problems.append(f"{tag}: metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
        failed = record["failed_ops"]
        if workload == "query_board" and failed:
            problems.append(f"{tag}: failed ops {failed}")
        if workload == "csv_fresh" and not trace:
            for kind, table, test, _ in bench.KNOWN_DEFECTS:
                if not any(f.startswith(f"{kind} {table}: ") and test(f.split(": ", 1)[1]) for f in failed):
                    problems.append(f"{tag}: defect {kind} {table} did not show")
            problems += classifier_problems(bench, failed)
    for p in problems:
        print(f"self-test FAILED: {p}")
    print("self-test passed" if not problems else "self-test failed")
    return 1 if problems else 0
