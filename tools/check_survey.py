#!/usr/bin/env python3
"""Machine-check SURVEY.md's totals against its own §2 table.

The component count in the "Current totals:" prose line has drifted
from the table once (r8: prose said 194, the table had 195 numbered
rows). This script recounts and fails loudly on any mismatch, so the
prose can never drift again:

  usage: check_survey.py [path/to/oracle_sql.json]

- components  = numbered rows in the §2 table (`| 12 |`, `| 3b |`, ...)
- extra rows  = un-numbered operator rows (`| — |`) — reported, not
                counted as components (matches the judge's convention)
- catalog queries = the prose's second number; checked against an
  oracle_sql.json (written by graft.Verify) when one is passed, else
  against the COMMITTED key list tools/catalog_keys.txt (regenerated
  and gated by SurveyGateSpec), so the key-level diff runs with no
  arguments between driver runs — the last drift channel (r15 VERDICT
  ask #6).

- code pointers = every backticked `pkg.Object.member` in a §2 row's
                implementation column (also `Object.a/b` and
                `Object.{a,b}` lists) must name an object, class or
                trait `Object` and a def/val/object/class `member` in
                src/main, unless the row's status says **retired**;
                JVM names (`java.…`, `scala.…`, `org.…`) are skipped.

Exit 0 iff every cross-check passes.
"""
import json
import re
import sys
from pathlib import Path

repo = Path(__file__).resolve().parent.parent
text = (repo / "SURVEY.md").read_text()

numbered = re.findall(r"^\| (\d+b?) \|", text, flags=re.M)
unnumbered = re.findall(r"^\| [—-] \|", text, flags=re.M)
dupes = {n for n in numbered if numbered.count(n) > 1}

m = re.search(r"Current totals: (\d+) components[^;]*; (\d+) catalog queries", text)
if not m:
    print("FAIL: no 'Current totals: N components ...; M catalog queries' line")
    sys.exit(1)
prose_components, prose_queries = int(m.group(1)), int(m.group(2))

ok = True
if dupes:
    print(f"FAIL: duplicate row numbers in §2: {sorted(dupes)}")
    ok = False
if prose_components != len(numbered):
    print(f"FAIL: prose says {prose_components} components, "
          f"table has {len(numbered)} numbered rows")
    ok = False
else:
    print(f"OK  components: {len(numbered)} numbered rows "
          f"(+{len(unnumbered)} unnumbered) == prose")

def section2(text):
    """The §2 table region (between the §2 and §3 headers)."""
    start = text.index("## §2")
    end = text.index("## §3")
    return text[start:end]

def cells(line):
    """A table row's cells; a `|` inside backticks or escaped as `\\|`
    does not split."""
    out, cur, code, prev = [], [], False, ""
    for ch in line.strip():
        if ch == "`":
            code = not code
        if ch == "|" and not code and prev != "\\":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        prev = ch
    out.append("".join(cur))
    return out[1:-1]


src = "\n".join(f.read_text() for f in (repo / "src" / "main").rglob("*.scala"))
pointer = re.compile(r"^(?:graft\.)?((?:[a-z]\w*\.)*)([A-Z]\w*)\."
                     r"(\w+(?:/\w+)*|\{\w+(?:,\s*\w+)*\})$")


def defined(kinds, name):
    return re.search(rf"\b(?:{kinds})\s+{re.escape(name)}\b", src) is not None


stale = []
for line in section2(text).splitlines():
    if not re.match(r"^\| (\d+b?|[—-]) \|", line):
        continue
    row = cells(line)
    if len(row) < 4 or "**retired**" in row[-1]:
        continue
    for span in re.findall(r"`([^`]+)`", row[2]):
        m = pointer.match(span.strip())
        if not m or m.group(1).split(".")[0] in ("java", "javax", "scala", "org"):
            continue
        missing = [] if defined("object|class|trait", m.group(2)) else [m.group(2)]
        missing += [n for n in re.split(r"[/{},\s]+", m.group(3))
                    if n and not defined("def|val|var|object|class", n)]
        if missing:
            stale.append(f"#{row[0].strip()} `{span.strip()}` ({', '.join(missing)})")
if stale:
    print(f"FAIL: §2 code pointers with no definition in src/main: {stale}")
    ok = False
else:
    print("OK  every §2 code pointer names a definition in src/main")

keys_file = repo / "tools" / "catalog_keys.txt"
if len(sys.argv) > 1:
    oracle = set(json.loads(Path(sys.argv[1]).read_text()))
    source = sys.argv[1]
elif keys_file.exists():
    oracle = set(keys_file.read_text().split())
    source = "tools/catalog_keys.txt (committed)"
else:
    oracle = None
    source = None

if oracle is not None:
    if prose_queries != len(oracle):
        print(f"FAIL: prose says {prose_queries} catalog queries, "
              f"{source} has {len(oracle)}")
        ok = False
    else:
        print(f"OK  catalog queries: {len(oracle)} == prose ({source})")
    # KEY-LEVEL diff (r15, VERDICT r14 #6): counts alone missed a green
    # catalog query with no §2 row (export_shards). Every catalog key
    # must appear backticked somewhere in the §2 table; every key named
    # inside a `pass (...)` correctness cell must exist in the catalog.
    sec2 = section2(text)
    backticked = set(re.findall(r"`([a-z0-9_]+)`", sec2))
    missing_rows = sorted(set(oracle) - backticked)
    if missing_rows:
        print(f"FAIL: catalog queries with NO §2 mention: {missing_rows}")
        ok = False
    else:
        print(f"OK  every catalog key appears in §2")
    pass_cells = re.findall(r"\*?\*?pass\*?\*? \(([^)]*)\)", sec2)
    claimed = set()
    for cell in pass_cells:
        claimed |= set(re.findall(r"`?([a-z0-9_]+)`?", cell.split(" —")[0]
                                  .split(" -")[0].replace(",", " ")))
    phantom = sorted(k for k in claimed
                     if k in backticked and "_" in k and k not in oracle)
    if phantom:
        print(f"FAIL: §2 'pass' cells claim keys absent from the catalog: "
              f"{phantom}")
        ok = False
    else:
        print("OK  no phantom keys in §2 pass cells")
else:
    print(f"FAIL: no oracle_sql.json given and tools/catalog_keys.txt is "
          f"missing — the key-level diff cannot run (prose claims "
          f"{prose_queries} catalog queries)")
    ok = False

sys.exit(0 if ok else 1)
