#!/usr/bin/env python3
"""Records the expected output hash of every gate op in workloads.json.

    python3 perfbench/record.py [workload ...]

Run it from the root of a checkout whose engine outputs are trusted. For
each gate workload (default: every workload without a generator) it runs
one untraced pass with the runner, which also writes every gate's output
and its oracle SQL. scripts/oracle_check.py then compares each output
with its DuckDB oracle over the same fixtures. The hashes are written
only if every comparison passes; a gate without an oracle is recorded as
it ran.
"""
import json
import os
import sys

import run


def main(names):
    spec = run.load_spec()
    os.makedirs(run.WORK, exist_ok=True)
    run.build()
    sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
    import oracle_check
    os.environ.setdefault("GRAFT_ORACLE_NO_CACHE", "1")
    fixtures = os.path.join(run.ROOT, spec["fixtures"])
    for name in names or [n for n, w in spec["workloads"].items()
                          if "generator" not in w]:
        run_dir = os.path.join(run.WORK, "runs", f"record-{name}")
        dump = os.path.join(run_dir, "dump")
        _, result, _ = run.run_runner(spec, name, 0, 0, 0, run_dir, 900,
                                      dump_dir=dump)
        ops = result["passes"][0]["ops"]
        errors = [f"{o['name']}: {o['error']}" for o in ops if "error" in o]
        if errors:
            run.fail(f"{name}: " + "; ".join(errors))
        if oracle_check.main(fixtures, dump) != 0:
            run.fail(f"{name}: an output differs from its DuckDB oracle")
        spec["workloads"][name]["expected"] = {o["name"]: o["hash"]
                                               for o in ops}
    with open(os.path.join(run.BENCH, "workloads.json"), "w") as f:
        json.dump(spec, f, indent=1, ensure_ascii=False)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
