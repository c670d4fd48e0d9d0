"""Parent-vs-change identity check for refactors that must not change a
plan or an oracle result (the engine-twin PRs).

Each dump runs in its own process against one source tree, so the two
trees never share an import:

    python tools/twin_identity.py plans TREE SF_DIR OUT.json [KEY ...]
    python tools/twin_identity.py rows  TREE SF_DIR OUT.json [KEY ...]
    python tools/twin_identity.py diff  PARENT.json CHANGE.json

``plans`` builds every registry key (without running it) and records
``queryExecution().optimizedPlan()`` with expression ids, temp paths,
uuids and the per-process bucket-table suffix stripped and every
``Expand`` in canonical form (:func:`_canon_expand`), the oracle SQL
with whitespace collapsed, and the Spark jobs and stages the build
itself ran (checkpointing loops run eagerly). ``rows`` runs every
oracle in DuckDB (2 threads, 3 GB) and records the sha256 of its column
names and sorted rows. ``diff`` lists the keys whose plan, oracle text
or row hash differs, and, for information, those whose build jobs or
stages moved. Both dumps resume from an existing OUT.json, so an
interrupted run continues.

Typical use: ``git clone`` the parent commit into a scratch directory,
dump both trees at sf0.001, then run ``rows`` at every scale factor for
the keys whose oracle text changed.
"""

from __future__ import annotations

import difflib
import hashlib
import json
import math
import os
import re
import sys
import threading

#: per-oracle DuckDB budget; a run past it is recorded as an error
_ROW_TIMEOUT_S = 240
#: DuckDB caps for ``rows``: uncapped, the shingle connected-component
#: oracles grow the process past 10 GB at sf0.1
_DUCK_THREADS = 2
_DUCK_MEMORY = "3GB"


def _split_top(text: str) -> list[str]:
    """Split a printed expression list on its top-level commas."""
    parts, depth, begin = [], 0, 0
    for i, c in enumerate(text):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[begin:i].strip())
            begin = i + 1
    return parts + [text[begin:].strip()]


def _close(text: str, start: int) -> int:
    """Index just past the bracket that closes ``text[start]``."""
    depth = 0
    for i in range(start, len(text)):
        depth += {"[": 1, "(": 1, "]": -1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return i + 1
    return len(text)


def _node_col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-|"))


def _canon_expand(text: str) -> str:
    """Canonical form of every ``Expand [[…], …], [out…]`` node.

    The order of the projection lists is not semantic, and in the
    distinct-aggregate rewrite neither is which distinct group gets which
    ``gid`` literal nor the order of the Expand's output columns: the
    optimizer derives all three from a hash map keyed on expression ids,
    so they change with the ids the process used up before the key was
    built. Output columns are sorted by name, the lists sorted by
    content, and the ``gid`` literals renumbered in that order — in the
    Expand and in the ``(gid = k)`` tests of the aggregates above it,
    whose grouping lists are sorted too. A genuine change to what any
    group computes still shows.
    """
    if "Expand [[" not in text:
        return text
    lines = text.splitlines()
    for i, line in enumerate(lines):
        m = re.search(r"Expand \[\[", line)
        if not m:
            continue
        start = m.end() - 2
        end = _close(line, start)
        rows = [_split_top(r[1:-1]) for r in _split_top(line[start + 1 : end - 1])]
        out_at = line.index("[", end)
        out = _split_top(line[out_at + 1 : _close(line, out_at) - 1])
        cols = sorted(
            range(len(out)), key=lambda j: (out[j], sorted(r[j] for r in rows))
        )
        rows = [[r[j] for j in cols] for r in rows]
        out = [out[j] for j in cols]
        relabel = {}
        if "gid" in out:
            g = out.index("gid")
            rows.sort(key=lambda r: r[:g] + r[g + 1 :])
            old = [r[g] for r in rows]
            relabel = dict(zip(old, sorted(old, key=int)))
            for r in rows:
                r[g] = relabel[r[g]]
        else:
            rows.sort()
        body = ", ".join("[" + ", ".join(r) + "]" for r in rows)
        lines[i] = f"{line[:start]}[{body}], [{', '.join(out)}]"
        if not relabel:
            continue
        col, aggregates = _node_col(line), 0
        for j in range(i - 1, -1, -1):
            if _node_col(lines[j]) >= col or aggregates == 2:
                continue
            col = _node_col(lines[j])
            up = re.sub(
                r"\(gid = (\d+)\)",
                lambda k: f"(gid = {relabel.get(k.group(1), k.group(1))})",
                lines[j],
            )
            a = re.search(r"Aggregate \[", up)
            if a:
                aggregates += 1
                keys_end = _close(up, a.end() - 1)
                keys = _split_top(up[a.end() : keys_end - 1])
                if keys[-1] == "gid":
                    res_at = up.index("[", keys_end)
                    res = _split_top(up[res_at + 1 : _close(up, res_at) - 1])
                    up = (
                        f"{up[: a.end() - 1]}[{', '.join(sorted(keys))}], "
                        f"[{', '.join(sorted(res))}]"
                    )
            lines[j] = up
    return "\n".join(lines)


def _norm_plan(text: str) -> str:
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"(file:)?/tmp/[^\s,\]\)]*", "<tmp>", text)
    text = re.sub(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b", "<uuid>", text)
    # CollectMetrics prints the id of the DataFrame that declared it,
    # which counts every DataFrame the process built before
    text = re.sub(r"(CollectMetrics \w+, \[.*\]), \d+$", r"\1", text, flags=re.M)
    text = _canon_expand(text)
    return re.sub(r"\b(bkt_\w+?_[0-9a-f]{8})_\d+\b", r"\1", text)


def _load(tree: str, out: str):
    sys.path.insert(0, tree)
    os.chdir(tree)
    from analyse_the_sky_with_apache_spark_spark import registry

    registry.load_all_modules()
    done = json.load(open(out)) if os.path.exists(out) else {}
    return registry, done


def dump_plans(tree: str, sf_dir: str, out: str, keys: list[str]) -> None:
    registry, done = _load(tree, out)
    from analyse_the_sky_with_apache_spark_spark.session import get_spark
    from perfbench.layers import SparkCounters

    qs, oracles = registry.queries(), registry.oracle_sql()
    spark = get_spark("twin-identity")
    counters = SparkCounters(spark)
    for k in keys or sorted(qs):
        if k in done:
            continue
        job0, stage0 = counters.ids()
        try:
            df = qs[k](spark, sf_dir)
            plan = _norm_plan(df._jdf.queryExecution().optimizedPlan().toString())
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR {type(e).__name__}: {str(e)[:200]}"
        job1, stage1 = counters.ids()
        sql = " ".join(oracles[k].split()) if k in oracles else None
        done[k] = {"plan": plan, "oracle": sql, "jobs": [job1 - job0, stage1 - stage0]}
        json.dump(done, open(out, "w"))
    spark.stop()


def _cell(v) -> str:
    return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)


def dump_rows(tree: str, sf_dir: str, out: str, keys: list[str]) -> None:
    registry, done = _load(tree, out)
    import duckdb

    from tools.canon import duck_views

    oracles = registry.oracle_sql()
    con = duckdb.connect(
        config={"threads": _DUCK_THREADS, "memory_limit": _DUCK_MEMORY}
    )
    duck_views(con, sf_dir)
    for k in keys or sorted(oracles):
        if k in done or k not in oracles:
            continue
        timer = threading.Timer(_ROW_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            rel = con.execute(oracles[k])
            cols = [d[0] for d in rel.description]
            rows = sorted(tuple(_cell(v) for v in r) for r in rel.fetchall())
            sha = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
            done[k] = {"rows": sha, "n": len(rows)}
        except Exception as e:  # noqa: BLE001
            done[k] = {"rows": f"ERROR {type(e).__name__}: {str(e)[:200]}", "n": -1}
        finally:
            timer.cancel()
        json.dump(done, open(out, "w"))


def diff(parent: str, change: str) -> int:
    a, b = json.load(open(parent)), json.load(open(change))
    bad = 0
    for field in ("plan", "oracle", "rows"):
        keys = sorted(k for k in set(a) & set(b) if field in a[k] or field in b[k])
        if not keys:
            continue
        changed = [k for k in keys if a[k].get(field) != b[k].get(field)]
        errors = [k for k in keys if str(b[k].get(field, "")).startswith("ERROR")]
        print(f"{field}: {len(changed)} of {len(keys)} keys differ; errors {errors}")
        for k in changed:
            print(f"  {k}")
            if field == "plan":
                for line in difflib.unified_diff(
                    a[k]["plan"].splitlines(), b[k]["plan"].splitlines(),
                    lineterm="", n=0,
                ):
                    print(f"    {line[:200]}")
        bad += len(errors) + (len(changed) if field == "rows" else 0)
    moved = [
        f"  {k}: {a[k]['jobs']} -> {b[k]['jobs']}"
        for k in sorted(set(a) & set(b))
        if "jobs" in a[k] and "jobs" in b[k] and a[k]["jobs"] != b[k]["jobs"]
    ]
    if moved:
        print(f"build [jobs, stages]: {len(moved)} keys differ")
        print("\n".join(moved))
    missing = sorted(set(a) ^ set(b))
    if missing:
        print(f"keys in only one dump: {missing}")
    return 1 if bad or missing else 0


def main() -> int:
    cmd, *args = sys.argv[1:]
    if cmd == "diff":
        return diff(*args)
    tree, sf_dir, out, *keys = args
    out = os.path.abspath(out)
    {"plans": dump_plans, "rows": dump_rows}[cmd](
        os.path.abspath(tree), sf_dir, out, keys
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
