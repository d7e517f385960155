#!/usr/bin/env python3
"""Writes the catalog_mix query pool, `perfbench/catalog.json`, with the
result hash of every pool query over `perfbench/data/sf0.01`.

    python3 perfbench/record_catalog.py      # from the repository root

The pool is read from `SparkEntry.queries`: the headline queries (q1-q48),
every query built with `stagedSql` (CTE staging) and every other query whose
body calls `localCheckpoint` (a hand-written checkpoint chain). A query's
family is the first test table its body names. Run it again only when a
pool query's result is meant to change; the benchmark fails a run whose
result hash differs from the recorded one.
"""
import json
import re
import subprocess
import sys

sys.path.insert(0, "perfbench")
sys.dont_write_bytecode = True
import build  # noqa: E402

TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region",
          "events", "documents", "embeddings"]


def pool():
    src = open("src/main/scala/graft/SparkEntry.scala").read()
    body = src[src.index("  def queries: Map["):src.index("  def oracleSql: Map[")]
    keys = [(m.start(), m.group(1))
            for m in re.finditer(r'^    "(q(\d+)_[a-z0-9_]+)" ->', body, re.M)]
    out = []
    for i, (pos, name) in enumerate(keys):
        entry = body[pos:keys[i + 1][0] if i + 1 < len(keys) else len(body)]
        if int(re.match(r"q(\d+)", name).group(1)) <= 48:
            kind = "headline"
        elif "stagedSql(" in entry:
            kind = "staged"
        elif "localCheckpoint" in entry:
            kind = "checkpoint"
        else:
            continue
        m = re.search(r"\b(" + "|".join(TABLES) + r")\b", entry)
        out.append({"name": name, "kind": kind, "family": m.group(1) if m else "none"})
    return sorted(out, key=lambda q: q["name"])


def main():
    path = "perfbench/catalog.json"
    with open(path, "w") as fh:
        json.dump({"queries": pool()}, fh, indent=2)
    cp = build.build()
    r = subprocess.run(build.java_cmd(cp) + ["graftbench.RecordCatalog"])
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
