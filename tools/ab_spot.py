"""Matched-load A/B spot for the r15 CDC measurement (VERDICT-r14 #1):
time each named face alternating a module-level knob between runs, so both
variants share machine conditions (the bench-noise protocol). The knob is a
(module, attribute, a_value, b_value) triple given on the command line as
``--knob module.path:ATTR`` with A = the attribute's current value and
B = its negation (boolean knobs only).

The package keeps no such knob: the ``_LOG_MAT`` flag that the r15 CDC
measurement (tools/ab_cdc_log_r15.json) switched is not in the committed
tree. To A/B a code path, first add a temporary module-level boolean
that selects it, in a local patch that is not committed, for example
``_MY_KNOB = True`` in ``baum_welch_spark/streaming/upsert.py``.

Usage (with that temporary knob in place):
  python tools/ab_spot.py --runs 4 --knob baum_welch_spark.streaming.upsert:_MY_KNOB \
      cdc_changes cdc_time_travel cdc_schema_evolution cdc_compact cdc_apply_batch
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=4, help="runs PER VARIANT")
    ap.add_argument("--knob", required=True, help="module.path:BOOL_ATTR")
    ap.add_argument("--out", help="write results as JSON")
    ap.add_argument("faces", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from baum_welch_spark.session import drain_scratch, get_spark

    modname, attr = args.knob.split(":")
    mod = importlib.import_module(modname)
    a_val = getattr(mod, attr)
    assert isinstance(a_val, bool), "boolean knobs only"

    spark = get_spark(app_name="ab-spot")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    # warm JVM + Arrow workers (bench.py's convention)
    qs["q1_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, list[float]]] = {}
    for face in args.faces:
        times: dict[str, list[float]] = {"A": [], "B": []}
        for r in range(args.runs):
            for label, val in (("A", a_val), ("B", not a_val)):
                setattr(mod, attr, val)
                spark.sparkContext.setJobDescription(f"{face} {label} run{r}")
                t0 = time.time()
                df = qs[face](spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
                times[label].append(round(time.time() - t0, 3))
                drain_scratch()
        setattr(mod, attr, a_val)
        results[face] = times
        print(
            f"{face}: A({attr}={a_val}) min {min(times['A']):.3f} {times['A']}"
            f"  |  B({attr}={not a_val}) min {min(times['B']):.3f} {times['B']}",
            flush=True,
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
