"""Regenerate the frozen query lists in ``workloads.json``.

    python3 perfbench/freeze_workloads.py          # print the lists
    python3 perfbench/freeze_workloads.py --write  # and store them

The lists were generated once and are committed; the benchmark reads only
``workloads.json``, so a later change to the query registry does not change
what a workload runs.

The rule, which does not look at a query's speed or its correctness history:
for each plans module a workload names under ``modules``, order the queries
it registers by ``sha256("perfbench:" + name)`` and take the first
``per_module`` of them.  ``per_module`` is set by the run budget: a run must
end in about a minute, and each query costs a run 3-15 s on 4 cores (a cold
first execution, a warm-up execution, two timed ones, and the isolation
between them), on top of about 17 s of JVM start, first-query class loading,
host canary and shutdown.  A query in
``TOO_SLOW`` is passed over, because alone it takes longer than a pass may.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

#: warm seconds of one execution at sf0.1 on local[4] (4 vCPU, 15 GB), for
#: every registered query slower than 5 s
TOO_SLOW = {
    "q_time_parse": 34.2,
    "q_media_decode_webp": 14.5,
    "q_lm_score": 7.9,
    "q_media_decode_jpeg420": 6.7,
    "q_training_pipeline": 6.2,
    "q_rowwise_agg": 5.5,
    "q_media_frames_mp4": 5.1,
}


def _key(name: str) -> str:
    return hashlib.sha256(f"perfbench:{name}".encode()).hexdigest()


def freeze(workloads: dict, registry: dict) -> tuple[dict[str, list[str]],
                                                     list[str]]:
    """Query list per workload, and the ``TOO_SLOW`` queries the rule would
    otherwise have taken."""
    lists: dict[str, list[str]] = {}
    passed_over = []
    for workload, spec in workloads.items():
        picked = []
        for mod in spec["modules"]:
            names = sorted((n for n, fn in registry.items()
                            if fn.__module__ == mod), key=_key)
            k = spec["per_module"]
            passed_over += [n for n in names[:k] if n in TOO_SLOW]
            picked += [n for n in names if n not in TOO_SLOW][:k]
        lists[workload] = picked
    return lists, passed_over


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__  # noqa: F401  (registers every query)
    from orange3_spark.plans.registry import QUERIES

    path = os.path.join(HERE, "workloads.json")
    with open(path) as fh:
        doc = json.load(fh)
    lists, passed_over = freeze(doc["workloads"], QUERIES)
    print(json.dumps(lists, indent=1))
    print("passed over as too slow:", passed_over or "none")
    if "--write" in sys.argv[1:]:
        for workload, names in lists.items():
            doc["workloads"][workload]["queries"] = names
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
