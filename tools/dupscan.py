#!/usr/bin/env python3
"""Report repeated code in the engine's Scala sources.

A 6-line sliding-window scan over whitespace-stripped lines. Comments,
blank lines and lines holding only braces or parentheses are skipped
before windows are formed. Lines inside triple-quoted strings (the DuckDB
twins of each family's `sql` map, and the CTE helpers they splice in) are
"twin" text; all other lines are "scala" code. The two kinds are scanned
separately, and a window never spans a switch between them.

A line counts as repeated when some window holding it occurs at least
twice (in any file, or twice in one file). Overlapping repeated windows
merge into runs, listed longest first with the places their first window
also occurs.

    python3 tools/dupscan.py

It scans src/main/scala, run from the repository root. The window is
fixed at 6 lines, so every report counts duplication the same way. The
scan only reports; its exit status is 0 whatever it finds.
"""
import collections
import glob
import os
import re
import signal

ONLY_BRACKETS = re.compile(r"^[{}()\[\],;]*$")
WINDOW = 6  # lines per sliding window; a run is never shorter
ROOT = "src/main/scala"


def kept_lines(path):
    """Yields (line number, kind, segment id, stripped text) for each line
    the scan keeps, with kind "twin" or "scala". The segment id changes
    whenever the kind does, so windows stay inside one kind."""
    in_str = False
    in_comment = False
    segment = 0
    last_kind = None
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            text = raw.strip()
            starts_in_str = in_str
            if in_comment:
                if "*/" in text:
                    in_comment = False
                continue
            if not in_str and text.startswith("/*"):
                in_comment = "*/" not in text
                continue
            if not in_str and text.startswith("//"):
                continue
            if text.count('"""') % 2 == 1:
                in_str = not in_str
            kind = "twin" if starts_in_str or in_str else "scala"
            if kind == "twin" and text.startswith("--"):
                continue
            if not text or ONLY_BRACKETS.match(text):
                continue
            if kind != last_kind:
                segment += 1
                last_kind = kind
            yield no, kind, segment, text


def scan(files):
    # per kind: list of segments, each a list of (file, line, text)
    segments = {"scala": [], "twin": []}
    for path in files:
        cur, cur_id = None, None
        for no, kind, seg, text in kept_lines(path):
            if seg != cur_id:
                cur, cur_id = [], seg
                segments[kind].append(cur)
            cur.append((path, no, text))
    report = {}
    for kind, segs in segments.items():
        where = collections.defaultdict(list)
        for si, seg in enumerate(segs):
            for i in range(len(seg) - WINDOW + 1):
                key = tuple(t for _, _, t in seg[i:i + WINDOW])
                where[key].append((si, i))
        total = sum(len(s) for s in segs)
        covered = set()
        for locs in where.values():
            if len(locs) > 1:
                for si, i in locs:
                    covered.update((si, j) for j in range(i, i + WINDOW))
        runs = []
        for si, seg in enumerate(segs):
            j = 0
            while j < len(seg):
                if (si, j) not in covered:
                    j += 1
                    continue
                k = j
                while k + 1 < len(seg) and (si, k + 1) in covered:
                    k += 1
                first = tuple(t for _, _, t in seg[j:j + WINDOW])
                others = [segs[s][i][:2] for s, i in where.get(first, [])
                          if (s, i) != (si, j)]
                runs.append((k - j + 1, seg[j][0], seg[j][1], seg[k][1], others))
                j = k + 1
        report[kind] = (total, len(covered), runs)
    return report


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    files = sorted(glob.glob(os.path.join(ROOT, "**", "*.scala"),
                             recursive=True))
    report = scan(files)
    for kind in ("scala", "twin"):
        total, covered, runs = report[kind]
        print(f"{kind}: {covered} of {total} lines in repeated "
              f"{WINDOW}-line windows, {len(runs)} runs")
    for kind in ("scala", "twin"):
        _, _, runs = report[kind]
        print(f"\n== {kind} runs")
        for n, path, lo, hi, others in sorted(runs, key=lambda r: (-r[0], r[1], r[2])):
            also = ", ".join(f"{p}:{l}" for p, l in others[:4])
            more = f" (+{len(others) - 4})" if len(others) > 4 else ""
            print(f"{n:4d}  {path}:{lo}-{hi}  also {also}{more}")


if __name__ == "__main__":
    main()
