"""Dump a normalized physical-plan hash per registry query.

Used by the optimization rounds to decide _TOUCHED membership exactly:
run on two trees (the last driver-attested commit vs the working tree),
diff the hash tables, and every differing name gets a touched entry.

Normalization strips the unstable bits of a plan string: expression ids
(#123), plan ids, common-subexpression counters, checkpoint/memo RDD
ids, absolute paths, and byte statistics — what remains is the operator
tree and its arguments. The group order of a distinct-aggregate rewrite
(the Expand projections, their gid numbers and the column order of every
list above them) follows the hash order of expression ids, so it is put
in a canonical order first (``canonical_expand``).

A query whose plan cannot be built gets an ERR row, and the tool exits
non-zero naming every such query: two trees that both fail must not
compare equal.

Usage: python tools/plan_hashes.py <sf_dir> <out_file> [text_dir]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402

ITERATIVE = {
    "dedup_connected_components", "dedup_keep_canonical",
    "clean_corpus_manifest", "training_sample_weights",
    "pagerank_dup_graph",
}


_ID = re.compile(r"#(\d+)")


def _split_top(s: str) -> "list[str] | None":
    """Split on the commas outside any bracket; None if unbalanced."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
            if depth < 0:
                return None
        elif ch == "," and depth == 0:
            items.append(s[start:i])
            start = i + 1
    if depth:
        return None
    items.append(s[start:])
    return items


def _close(s: str, i: int) -> int:
    """Index of the bracket closing the one at ``i``, or -1."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([{":
            depth += 1
        elif s[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j
    return -1


def _map_lists(s: str, fn) -> str:
    """Apply ``fn`` to the item list of every bracket group, innermost
    first; a group that does not parse is left as it is."""
    out, i = [], 0
    while i < len(s):
        j = _close(s, i) if s[i] in "([" else -1
        items = _split_top(s[i + 1:j]) if j > 0 else None
        if items is None:
            out.append(s[i])
            i += 1
            continue
        out.append(s[i] + ",".join(fn([_map_lists(it, fn) for it in items]))
                   + s[j])
        i = j + 1
    return "".join(out)


def _reorder_runs(items: "list[str]", rank: dict, gid: int) -> "list[str]":
    """Sort every run of consecutive items that each name one distinct
    ranked attribute by that rank. Items that read the gid are aggregate
    functions filtered by group, not columns, and break a run."""
    def key(it):
        ids = {int(x) for x in _ID.findall(it)}
        hit = ids & rank.keys()
        return rank[hit.pop()] if len(hit) == 1 and gid not in ids else None

    keys = [key(it) for it in items]
    out, k = list(items), 0
    while k < len(items):
        end = k
        while (end < len(items) and keys[end] is not None
               and keys[end] not in keys[k:end]):
            end += 1
        if end - k >= 2:
            run = sorted(range(k, end), key=lambda m: keys[m])
            for pos, src in zip(range(k, end), run):
                lead = items[pos][:len(items[pos]) - len(items[pos].lstrip())]
                out[pos] = lead + items[src].strip()
        k = max(end, k + 1)
    return out


def _canonical_expand_line(line: str):
    """Canonicalize one distinct-aggregate Expand line. Returns (line,
    rank, gid id, gid map), or None when the line is no such Expand."""
    at = line.find("Expand [")
    parts = _split_top(line[at + len("Expand "):]) if at >= 0 else None
    if not parts or len(parts) != 2:
        return None
    rows = [_split_top(r.strip()[1:-1]) for r in
            (_split_top(parts[0].strip()[1:-1]) or [])]
    out = [o.strip() for o in _split_top(parts[1].strip()[1:-1]) or []]
    gids = [k for k, o in enumerate(out) if re.fullmatch(r"gid#\d+", o)]
    if (len(gids) != 1 or not rows or any(r is None or len(r) != len(out)
                                          for r in rows)):
        return None
    g = gids[0]
    rows = [[v.strip() for v in r] for r in rows]
    if not all(r[g].isdigit() for r in rows):
        return None
    owners = {i: [r for r in rows if r[i] != "null"]
              for i in range(len(out)) if i != g
              and len({r[i] for r in rows}) > 1}
    slots = [i for i, own in owners.items()
             if len(own) == 1 and int(own[0][g]) > 0]
    grouped = [r for r in rows if int(r[g]) > 0]
    grouped.sort(key=lambda r: "|".join(_ID.sub("#N", r[i])
                                         for i in slots if r[i] != "null"))
    gid_map = dict(zip((r[g] for r in grouped),
                       sorted((r[g] for r in grouped), key=int)))
    order = sorted(slots, key=lambda i: (int(gid_map[owners[i][0][g]]), i))

    def perm(vals):
        vals = list(vals)
        moved = {pos: vals[src] for pos, src in zip(slots, order)}
        return [moved.get(k, v) for k, v in enumerate(vals)]

    new_rows = sorted(
        (perm(r[:g] + [gid_map.get(r[g], r[g])] + r[g + 1:]) for r in rows),
        key=lambda r: int(r[g]))
    body = ", ".join("[" + ", ".join(r) + "]" for r in new_rows)
    new = (line[:at] + "Expand [" + body + "], ["
           + ", ".join(perm(out)) + "]")
    rank = {int(_ID.findall(out[src])[-1]): n for n, src in enumerate(order)}
    return new, rank, int(_ID.findall(out[g])[-1]), gid_map


def canonical_expand(plan: str) -> str:
    """Put every distinct-aggregate rewrite in one group order: Expand
    rows sorted by what each group carries, gids renumbered to match
    (``FILTER (WHERE gid = k)``), and the group columns of every list
    above the Expand in the same order."""
    lines = plan.split("\n")
    for n, line in enumerate(lines):
        done = _canonical_expand_line(line) if "Expand [" in line else None
        if done is None:
            continue
        lines[n], rank, gid, gid_map = done
        gid_eq = re.compile(rf"\bgid#{gid} = (\d+)")
        for m, other in enumerate(lines):
            if m == n or f"#{gid}" not in other:
                continue
            other = gid_eq.sub(
                lambda x: f"gid#{gid} = {gid_map.get(x.group(1), x.group(1))}",
                other)
            lines[m] = _map_lists(
                other, lambda items: _reorder_runs(items, rank, gid))
    return "\n".join(lines)


def normalize(plan: str) -> str:
    plan = canonical_expand(plan)
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\[id=#?N?\d*\]", "[id=N]", plan)
    plan = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[...]", plan)
    plan = re.sub(r"Scan ExistingRDD[^\n]*", "Scan ExistingRDD", plan)
    plan = re.sub(r"Location: [^\n]*", "Location: X", plan)
    plan = re.sub(r"file:[^\s,\]]*", "file:X", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(X)", plan)
    plan = re.sub(r"size in bytes[^\n]*", "size X", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_N", plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1]
    out_file = sys.argv[2]
    text_dir = sys.argv[3] if len(sys.argv) > 3 else None
    import __spark_entry__ as em

    spark = get_spark("plan-hashes")
    spark.sparkContext.setLogLevel("ERROR")
    # Scan metadata (DataFilters, PushedFilters) is cut at a fixed
    # length BEFORE normalization, so where the cut falls depends on
    # how many digits the run's expression ids have; print it whole.
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
    if text_dir:
        os.makedirs(text_dir, exist_ok=True)
    lines = []
    failed = []
    for name, fn in em.queries().items():
        if name in ITERATIVE:
            lines.append(f"{name} ITERATIVE")
            continue
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
            norm = normalize(plan)
            h = hashlib.sha256(norm.encode()).hexdigest()[:16]
            lines.append(f"{name} {h}")
            if text_dir:
                with open(os.path.join(text_dir, f"{name}.txt"), "w") as tf:
                    tf.write(norm)
        except Exception as e:  # noqa: BLE001
            lines.append(f"{name} ERR {type(e).__name__}")
            failed.append(f"{name}: {type(e).__name__}: {e}")
    with open(out_file, "w") as f:
        f.write("\n".join(sorted(lines)) + "\n")
    print(f"wrote {out_file} ({len(lines)} rows)")
    if failed:
        sys.exit(f"{len(failed)} queries raised:\n" + "\n".join(failed))


if __name__ == "__main__":
    main()
