#!/usr/bin/env python3
"""Split an Entries* registry object into two balanced files.

Zero-behavior-change discipline: entries are MOVED verbatim — never
edited — into a sibling object `<Name>2`, keeping each query entry
paired with its oracle entry. The facade (SparkEntry) must be updated to
assemble both objects; gate fingerprints cat Entries*.scala by glob so
new files join automatically.

Usage: split_registry.py <file> <ObjectName>
Writes <file> (first half) and <file minus .scala>2.scala (second half).
"""
import re
import sys


def parse_entries(lines):
    """Split map-body lines into entries: each starts at a `    "name" ->`
    line and carries the comment/blank block that precedes it."""
    starts = [i for i, ln in enumerate(lines)
              if re.match(r'^    "[a-z0-9_]+" ->', ln)]
    assert starts, "no entries found"
    begins = []
    for j, s in enumerate(starts):
        begin = s
        low = starts[j - 1] + 1 if j else 0
        while begin > low and (lines[begin - 1].strip() == "" or
                               lines[begin - 1].lstrip().startswith("//")):
            begin -= 1
        begins.append(begin)
    begins[0] = 0  # first entry absorbs any leading blank lines
    entries = []
    for j, s in enumerate(starts):
        end = begins[j + 1] if j + 1 < len(starts) else len(lines)
        name = re.match(r'^    "([a-z0-9_]+)" ->', lines[s]).group(1)
        entries.append((name, lines[begins[j]:end]))
    return entries


def strip_tail(entry_lines, n_parens):
    """Remove the map-closing parens glued to the last entry and any
    trailing comma; return normalized lines."""
    txt = "\n".join(entry_lines).rstrip()
    for _ in range(n_parens):
        assert txt.endswith(")"), txt[-40:]
        txt = txt[:-1]
    return txt


def normalize(entry_lines):
    txt = "\n".join(entry_lines).strip("\n").rstrip()
    if txt.endswith(","):
        txt = txt[:-1]
    return txt


def emit(header, qtexts, otexts, footer):
    out = header[:]
    out.append("")
    out.append(",\n\n".join(qtexts) + ")")
    out.append("")
    out.append("  val oracles: Map[String, String] = Map(")
    out.append("")
    out.append(",\n\n".join(otexts) + ")")
    out.append(footer)
    return "\n".join(out) + "\n"


def main(path, obj):
    src = open(path).read().rstrip("\n").split("\n")
    qdecl = next(i for i, ln in enumerate(src)
                 if ln.startswith("  val queries:"))
    odecl = next(i for i, ln in enumerate(src)
                 if ln.startswith("  val oracles:"))
    assert src[-1] == "}"
    header = src[: qdecl + 1]
    qbody = src[qdecl + 1: odecl]
    obody = src[odecl + 1: -1]

    qentries = parse_entries(qbody)
    oentries = parse_entries(obody)
    # strip the map-closing paren from each map's last entry
    qentries[-1] = (qentries[-1][0],
                    strip_tail(qentries[-1][1], 1).split("\n"))
    oentries[-1] = (oentries[-1][0],
                    strip_tail(oentries[-1][1], 1).split("\n"))
    qtexts = [(n, normalize(ls)) for n, ls in qentries]
    omap = {n: normalize(ls) for n, ls in oentries}
    oorder = [n for n, _ in oentries]
    assert len(omap) == len(oentries), "duplicate oracle names"

    def weight(name, qtxt):
        return qtxt.count("\n") + 1 + (
            omap[name].count("\n") + 1 if name in omap else 0)

    total = sum(weight(n, t) for n, t in qtexts)
    cum, k = 0, 0
    for i, (n, t) in enumerate(qtexts):
        if cum >= total / 2:
            break
        cum += weight(n, t)
        k = i + 1
    first = qtexts[:k]
    second = qtexts[k:]
    fnames = {n for n, _ in first}
    o_first = [omap[n] for n in oorder if n in fnames]
    o_second = [omap[n] for n in oorder if n not in fnames]
    moved = {n for n, _ in second}
    assert fnames.isdisjoint(moved)

    footer = "}"
    out1 = emit(header, [t for _, t in first], o_first, footer)

    header2 = []
    for ln in header:
        ln2 = ln.replace(f"object {obj} ", f"object {obj}2 ")
        header2.append(ln2)
    # retitle the scaladoc of the second file
    out2 = emit(header2, [t for _, t in second], o_second, footer)
    out2 = out2.replace("/** ", "/** (continued registry) ", 1)

    open(path, "w").write(out1)
    path2 = path[: -len(".scala")] + "2.scala"
    open(path2, "w").write(out2)
    print(f"{path}: {out1.count(chr(10))} lines; "
          f"{path2}: {out2.count(chr(10))} lines; "
          f"split after {k} of {len(qtexts)} queries")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
