"""Registry-wide physical-plan audit: every queries() entry's plan is
checked for row-at-a-time Python (`BatchEvalPython` must be 0
everywhere — Arrow-vectorized stages only), and scan / exchange /
Arrow-stage counts are recorded per entry.

Writes BENCH/PLANAUDIT_r{N}.json (pass --out) and exits non-zero if
any entry compiles a BatchEvalPython stage.  Entries that execute work
at construction time (iterative CC, streaming memory sinks, suites
with runtime-adaptive checks) still end in a DataFrame whose final
plan is audited; sf0.001 keeps that execution trivial.

Usage: python scripts/audit_plans.py [--out BENCH/PLANAUDIT_r05.json]
"""

import json
import re
import sys

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


def main():
    out_path = "BENCH/PLANAUDIT.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    violations = []
    errors = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            jvm_mode = (spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
            plan = df._jdf.queryExecution().explainString(jvm_mode)
        except Exception as e:  # noqa: BLE001 - audit must cover all
            # "could not audit" is NOT "compiled BatchEvalPython" —
            # kept in a separate list (both fail the exit code)
            results[name] = {"err": f"{type(e).__name__}: {e}"}
            errors.append(name)
            continue
        # formatted mode lists each operator once as "(N) Op"
        ops = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
        entry = {
            "batch_eval_python": sum(o == "BatchEvalPython" for o in ops),
            "arrow_stages": sum(
                o in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                      "MapInPandas", "MapInArrow",
                      "FlatMapGroupsInPandasWithState")
                for o in ops),
            "scans": sum(o == "Scan" for o in ops),
            "exchanges": sum(o == "Exchange" for o in ops),
        }
        results[name] = entry
        if entry["batch_eval_python"]:
            violations.append(name)
        print(f"{name}: py={entry['batch_eval_python']} "
              f"arrow={entry['arrow_stages']} scans={entry['scans']} "
              f"exch={entry['exchanges']}")

    summary = {
        "entries": len(results),
        "batch_eval_python_total": sum(
            r.get("batch_eval_python", 0) for r in results.values()),
        "violations": violations,
        "errors": errors,
        "per_entry": results,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(results)} entries, "
          f"violations={violations}, errors={errors}")
    spark.stop()
    sys.exit(1 if violations or errors else 0)


if __name__ == "__main__":
    main()
