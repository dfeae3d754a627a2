#!/usr/bin/env python3
"""List the public `def`s in src/main that nothing in src/main or perfbench/
calls: code that only specs reach.

A def counts when it is a member of an object, class or trait (not a local
def), is not `private`/`protected`/`override`, and is not `main`/`apply`.
A caller is any other mention of its name as a whole word in src/main or
perfbench/ Scala, outside comments and outside the def's own text (so a
recursive call does not count). Matching is by name, so an overload or an
unrelated member with the same name counts as a caller: the list can miss
an uncalled def, it never names a called one.

Usage: python3 tools/callers.py [repoRoot]   (default: this script's repo)
Prints one `path:line name` per uncalled def, then the count.
"""
import os
import re
import sys

MEMBER_START = re.compile(
    r"(def|val|var|lazy|private|protected|override|final|case|object|class|"
    r"trait|implicit|type|sealed|abstract|@|\})")
DEF = re.compile(r"^\s*(?:final\s+|implicit\s+|@\w+\s+)*def\s+([A-Za-z_]\w*)")
# a `{` opens a template when the last of these keywords before it (since
# the previous brace) is object, class, trait or new
OPENER = re.compile(r"\b(def|val|var|object|class|trait|new)\b")
TEMPLATES = {"object", "class", "trait", "new"}
SKIP = {"main", "apply", "unapply"}


def strip(src, strings):
    """Blank out comments (keeping newlines) so line numbers survive, and
    string literal text too when `strings` (interpolations call code, so
    caller search keeps it; brace tracking must not see it)."""
    def lit(t):
        return re.sub(r"[^\n]", " ", t) if strings else t
    out, i, n = [], 0, len(src)
    while i < n:
        m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
        if m:
            out.append(lit(m.group(0)))
            i += len(m.group(0))
            continue
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(lit(src[i:j]))
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(lit(src[i:j + 1]))
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def members(lines):
    """(line index, name, end index) of each public template-member def.
    Brace depth and block kind are tracked per line; a def ends at the next
    line at its own depth that starts a member or closes the template."""
    kinds, depth_at, kind_at = [], [], []
    pending = ""
    for line in lines:
        depth_at.append(len(kinds))
        kind_at.append(kinds[-1] if kinds else "top")
        for ch in line + "\n":
            if ch == "{":
                opener = OPENER.findall(pending)
                kinds.append("template" if opener and opener[-1] in TEMPLATES
                             else "block")
                pending = ""
            elif ch == "}":
                if kinds:
                    kinds.pop()
                pending = ""
            else:
                pending += ch
    found = []
    for i, line in enumerate(lines):
        m = DEF.match(line)
        if not m or kind_at[i] != "template" or m.group(1) in SKIP:
            continue
        end = i + 1
        while end < len(lines):
            s = lines[end].strip()
            if depth_at[end] < depth_at[i] or (
                    depth_at[end] == depth_at[i] and s and MEMBER_START.match(s)):
                break
            end += 1
        found.append((i, m.group(1), end))
    return found


def scala_files(root, sub):
    for d, _, fs in os.walk(os.path.join(root, sub)):
        if "/target" in d:
            continue
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main(root):
    srcs = {p: open(p, encoding="utf-8").read()
            for sub in ("src/main", "perfbench") for p in scala_files(root, sub)}
    texts = {p: strip(src, False).split("\n") for p, src in srcs.items()}
    uses = {}
    for p, lines in texts.items():
        for i, line in enumerate(lines):
            for w in re.findall(r"[A-Za-z_]\w*", line):
                uses.setdefault(w, []).append((p, i))
    uncalled = []
    for p, lines in texts.items():
        if "/src/main/" not in p:
            continue
        for i, name, end in members(strip(srcs[p], True).split("\n")):
            if re.search(r"\b(private|protected|override)\b", lines[i].split("def")[0]):
                continue
            if not any(q != p or not (i <= j < end) for q, j in uses.get(name, [])):
                uncalled.append((os.path.relpath(p, root), i + 1, name))
    for path, line, name in sorted(uncalled):
        print(f"{path}:{line} {name}")
    print(f"{len(uncalled)} public defs in src/main with no caller in src/main or perfbench/")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
