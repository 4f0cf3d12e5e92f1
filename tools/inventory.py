#!/usr/bin/env python3
"""Print the engine's size and option inventory.

    python3 tools/inventory.py [CHECKOUT]

Reports, for the checkout at CHECKOUT (default: this repository):
  - lines of main and test Scala (`src/main`, `src/test`);
  - the sorted set of `SPARK_GRAFT_*` environment options named under
    `src/main`;
  - the sorted set of `spark.graft.*` conf keys named under `src/main`;
  - duplicate paths: every call site of the local-vs-distributed regime
    predicate `Iterate.solveLocally` under `src/main`, as file:line.

Every change reports this before and after, so a growing option surface
or line count shows up in review rather than after the fact.
"""
import pathlib
import re
import sys

ENV_RE = re.compile(r"\bSPARK_GRAFT_[A-Z0-9_]+")
CONF_RE = re.compile(r"\"(spark\.graft\.[A-Za-z0-9_.]+)\"")
FORK_RE = re.compile(r"(?<!def )\bsolveLocally\(")


def scala_files(root: pathlib.Path):
    return sorted(root.rglob("*.scala")) if root.is_dir() else []


def main() -> int:
    repo = pathlib.Path(sys.argv[1] if len(sys.argv) > 1
                        else pathlib.Path(__file__).resolve().parent.parent)
    main_files = scala_files(repo / "src" / "main")
    test_files = scala_files(repo / "src" / "test")
    texts = {f: f.read_text(errors="replace") for f in main_files + test_files}
    for name, files in (("main", main_files), ("test", test_files)):
        lines = sum(texts[f].count("\n") for f in files)
        print(f"scala_lines.{name} {lines} ({len(files)} files)")
    envs = sorted({m for f in main_files for m in ENV_RE.findall(texts[f])})
    confs = sorted({m for f in main_files for m in CONF_RE.findall(texts[f])})
    print(f"env_options {len(envs)}")
    for e in envs:
        print(f"  {e}")
    print(f"conf_keys {len(confs)}")
    for c in confs:
        print(f"  {c}")
    forks = [f"{f.relative_to(repo)}:{n}" for f in main_files
             for n, line in enumerate(texts[f].splitlines(), 1)
             if FORK_RE.search(line)]
    print(f"duplicate_paths {len(forks)}")
    for f in forks:
        print(f"  {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
