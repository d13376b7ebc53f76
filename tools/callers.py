#!/usr/bin/env python3
"""Report engine members that nothing outside the tests calls.

Lists each public member of the engine's library packages (etl, ops,
streaming, llm, plans and core under src/main/scala/graft) whose name
occurs nowhere in src/main/scala or perfbench/src, apart from comments and
the member's own definition line.

A member is a `def`, `val`, `var`, `class`, `object`, `trait` or `type`
defined at the top level of a file or directly inside a top-level
object, class or trait, without a `private`, `protected`, `override` or
`implicit` modifier (the compiler, not a name, applies an implicit). A
caller is any occurrence of the member's name as a whole word, string
literals included (a generated-code call names its kernel in a string).
A call from inside a member the scan reports does not count, so a helper
that only dead code calls is reported too; the scan repeats until no new
member is reported. Matching is by name only, so a member that shares its
name with another is never reported: the scan can miss dead code, but
each member it lists has no caller.

    python3 tools/callers.py

Run it from the repository root. The scan only reports; its exit status
is 0 whatever it finds.
"""
import glob
import os
import re

PACKAGES = ("etl", "ops", "streaming", "llm", "plans", "core")
DEFINED = "src/main/scala/graft"
CALLERS = ("src/main/scala", "perfbench/src")
DEFINITION = re.compile(
    r"^\s*(?:@\w+\s+)*((?:[a-z]+(?:\[\w+\])?\s+)*)"
    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)")
HIDDEN = {"private", "protected", "override", "implicit"}
STRING = re.compile(r'"(?:\\.|[^"\\])*"')


def code_lines(path):
    """Yields (line number, code, code without strings) for each line of
    a Scala file, with comments removed. Text inside triple-quoted
    strings is kept in `code` and dropped from the string-free form."""
    in_triple = False
    in_comment = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            code, bare, i = [], [], 0
            while i < len(raw):
                if in_comment:
                    end = raw.find("*/", i)
                    if end < 0:
                        break
                    in_comment, i = False, end + 2
                elif in_triple:
                    end = raw.find('"""', i)
                    stop = len(raw) if end < 0 else end + 3
                    code.append(raw[i:stop])
                    in_triple, i = end < 0, stop
                elif raw.startswith('"""', i):
                    code.append('"""')
                    in_triple, i = True, i + 3
                elif raw.startswith("/*", i):
                    in_comment, i = True, i + 2
                elif raw.startswith("//", i):
                    break
                elif raw[i] == '"':
                    m = STRING.match(raw, i)
                    stop = m.end() if m else len(raw)
                    code.append(raw[i:stop])
                    i = stop
                else:
                    code.append(raw[i])
                    bare.append(raw[i])
                    i += 1
            yield no, "".join(code), "".join(bare)


def members(path, lines):
    """Returns (first line, last line, owner, name, public) for each
    definition at brace depth 0 or 1 in one file. A member's lines run to
    the next definition at its depth or shallower."""
    pkg = os.path.basename(os.path.dirname(path))
    found = []  # (line, depth, owner, name, public)
    depth = 0
    owner = pkg
    for no, _, bare in lines:
        m = DEFINITION.match(bare)
        if m and depth <= 1:
            public = not HIDDEN & set(
                w.split("[")[0] for w in m.group(1).split())
            found.append((no, depth, owner if depth == 1 else pkg,
                          m.group(3), public))
            if depth == 0 and m.group(2) in ("object", "class", "trait"):
                owner = m.group(3)
        depth += bare.count("{") - bare.count("}")
    last = lines[-1][0] if lines else 0
    out = []
    for i, (no, d, own, name, public) in enumerate(found):
        end = next((n - 1 for n, dd, *_ in found[i + 1:] if dd <= d), last)
        out.append((no, end, own, name, public))
    return out


def main():
    sources = sorted(p for root in CALLERS
                     for p in glob.glob(f"{root}/**/*.scala", recursive=True))
    text = {p: list(code_lines(p)) for p in sources}
    checked = [(path, m) for pkg in PACKAGES
               for path in sorted(glob.glob(f"{DEFINED}/{pkg}/**/*.scala",
                                            recursive=True))
               for m in members(path, text[path]) if m[4]]
    dead = {}  # path -> [(first, last)] of reported members
    uncalled = []
    while True:
        new = []
        for path, (no, end, owner, name, _) in checked:
            if (no, end) in dead.get(path, ()):
                continue
            word = re.compile(rf"\b{re.escape(name)}\b")
            called = any(
                word.search(code)
                for p, lines in text.items() for n, code, _ in lines
                if not (p == path and n == no)
                and not any(a <= n <= b for a, b in dead.get(p, ())))
            if not called:
                new.append((path, no, end, owner, name))
        if not new:
            break
        for path, no, end, owner, name in new:
            uncalled.append((path, no, owner, name))
            dead.setdefault(path, []).append((no, end))
    for path, no, owner, name in sorted(uncalled):
        print(f"{os.path.relpath(path, 'src/main/scala')}:{no}  {owner}.{name}")
    print(f"{len(uncalled)} public members with no caller in "
          f"{' or '.join(CALLERS)}")


if __name__ == "__main__":
    main()
