"""Interleaved same-session A/B of one toggle (guide §1): an
environment key the operators read while building the plan, or a
runtime ``spark.*`` SQL conf.

Cross-session comparisons on a shared box drift by up to 2x, so both
sides run inside ONE session, interleaved, with the within-pair order
alternating per round: the second run of the same query in a row is
systematically faster (codegen-cache warmth, ~0.5-0.9x on a null A/B),
and alternation makes the min over rounds order-fair.

- A ``spark.*`` key is toggled with ``spark.conf.set``/``unset``; any
  other key through ``os.environ``. An empty value (``KEY=``) unsets
  the key, i.e. runs that side on the session default.
- The timed region covers query CONSTRUCTION plus the noop write —
  bench.py's methodology — for both kinds of key. Timing only the
  final action silently excludes the eager work (calibration counts,
  GD-step localCheckpoints) that driver-paced queries do inside
  spark_fn; the r13 AQE floor change looked like a win under that bias
  and regressed on the driver's bench (NOTES #84).

Usage:
  python tools/env_ab.py KEY=valueA KEY=valueB query [query ...]
e.g.
  python tools/env_ab.py SPARK_GRAFT_VERIFY_PARTS=1 SPARK_GRAFT_VERIFY_PARTS=64 semantic_dedup
  python tools/env_ab.py spark.sql.adaptive.enabled= spark.sql.adaptive.enabled=false knn_join
Environment: SPARK_GRAFT_SF_DIR (the scale-factor directory; default
sf0.1 test data), AB_ROUNDS (default 4).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    key_a, val_a = sys.argv[1].split("=", 1)
    key_b, val_b = sys.argv[2].split("=", 1)
    assert key_a == key_b, "both sides must toggle the same key"
    key = key_a
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("AB_ROUNDS", "4"))

    from pasta_pipeline_spark.operators.util import release_cached_deps
    from pasta_pipeline_spark.queries.catalog import REGISTRY
    from pasta_pipeline_spark.session import get_spark

    spark = get_spark("env-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def toggle(val: str) -> None:
        if key.startswith("spark."):
            if val:
                spark.conf.set(key, val)
            else:
                spark.conf.unset(key)
        elif val:
            os.environ[key] = val
        else:
            os.environ.pop(key, None)

    def run(name: str, sf: str) -> float:
        t0 = time.time()
        df = REGISTRY[name].spark_fn(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        sec = time.time() - t0
        release_cached_deps(df)
        return sec

    warm = "/root/testdata/sf0.001"
    for side in (val_a, val_b):
        toggle(side)
        for name in names:
            run(name, warm)

    a: dict[str, list[float]] = {n: [] for n in names}
    b: dict[str, list[float]] = {n: [] for n in names}
    for r in range(rounds):
        for name in names:
            first, second = ((val_a, a), (val_b, b)) if r % 2 == 0 else (
                (val_b, b),
                (val_a, a),
            )
            for val, store in (first, second):
                toggle(val)
                store[name].append(run(name, sf_dir))
    print(f"A: {key}={val_a!r}  B: {key}={val_b!r}  (min of {rounds}; '' = unset)")
    print(f"{'query':30s} {'A_min':>7s} {'B_min':>7s} {'B/A':>6s}")
    for name in names:
        ra, rb = min(a[name]), min(b[name])
        print(f"{name:30s} {ra:7.3f} {rb:7.3f} {rb/ra:6.2f}")


if __name__ == "__main__":
    main()
