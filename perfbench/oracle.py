#!/usr/bin/env python3
"""Records the registry_batch output digests after an oracle check.

    python3 perfbench/oracle.py

Run from the root of the repository. Builds if needed, then:

1. the harness computes each registry_batch entry's row count and digest
   over perfbench/data, as the benchmark checks them each run;
2. `graft.Verify` dumps the same entries' results over the same data, and
   `tools/verify_local.py` compares each against its DuckDB oracle;
3. only when every oracle-backed entry matches are the digests written to
   perfbench/registry_digests.json.

tr00_pipeline_throughput has no oracle; its digest is recorded as produced.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import build  # noqa: E402
import verify_local  # noqa: E402

DATA = os.path.join("perfbench", "data")


def java(work: str, main: list) -> bool:
    cmd = build.java(work) + main
    try:
        return subprocess.run(cmd).returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    build.build()
    work = os.path.join(build.BUILD_DIR, "oracle-work")
    out = os.path.join(build.BUILD_DIR, "oracle-out")
    digests_file = os.path.join(build.BUILD_DIR, "oracle-digests.json")
    shutil.rmtree(out, ignore_errors=True)
    if not java(work, ["graftbench.Main", "--workload", "digests", "--seed", "0", "--seconds", "0",
                       "--trace", "0", "--work", work, "--data", DATA, "--artifact", digests_file]):
        print("oracle: digest run failed", file=sys.stderr)
        return 1
    with open(digests_file) as f:
        digests = json.load(f)
    if not java(work, ["graft.Verify", DATA, out] + sorted(digests)):
        print("oracle: graft.Verify failed", file=sys.stderr)
        return 1
    if verify_local.main(DATA, out, sorted(digests)) != 0:
        print("oracle: entries differ from their oracle; digests not recorded")
        return 1
    with open(os.path.join("perfbench", "registry_digests.json"), "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    os.remove(digests_file)
    print("oracle: digests recorded")
    return 0


if __name__ == "__main__":
    sys.exit(main())
