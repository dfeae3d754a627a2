#!/usr/bin/env python3
"""List the public `def`s in src/main that nothing in src/main or perfbench/
calls, and the public top-level types that nothing names: code that only
specs reach.

A def counts when it is a member of an object, class or trait (not a local
def), is not `private`/`protected`/`override`, and is not `main`/`apply`.
A caller is a mention of its name as a whole word in src/main or perfbench/
Scala, outside comments and outside the def's own text (so a recursive call
does not count). In the def's own file any mention counts. In another file,
a member of an object counts only as `Owner.name` or through an import of
Owner's members, and a member of a class or trait only where the file names
one of its enclosing types. So a same-name member of an unrelated type does
not hide an uncalled def. A call through a subtype, or on an instance whose
type the calling file never spells out, is missed, so a listed def may
still be called that way.

A top-level object, class or trait counts as unnamed when no other line of
src/main or perfbench/ mentions its name (string literals included, so a
class named in a conf string is named). Objects that define `main` are
entry points and are not listed.

Usage: python3 tools/callers.py [repoRoot]   (default: this script's repo)
Prints one `path:line name` per uncalled def, then their count; then one
`path:line name` per unnamed top-level type, then their count.
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
# a named template: its keyword and name (`new X {` is anonymous); TYPE is
# the form that starts a line
NAMED = re.compile(r"\b(object|class|trait)\s+([A-Za-z_]\w*)")
TYPE = re.compile(
    r"^(?:\s*(?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|"
    r"implicit|case|@\w+)\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)")
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
    """(line index, name, end index, enclosing types) of each public
    template-member def, and (line index, name) of each top-level type.
    The enclosing types are (keyword, name) pairs, innermost first.
    Brace depth and block kind are tracked per line; a def ends at the next
    line at its own depth that starts a member or closes the template."""
    kinds, depth_at, kind_at, owner_at = [], [], [], []
    pending = ""
    for line in lines:
        depth_at.append(len(kinds))
        kind_at.append(kinds[-1][0] if kinds else "top")
        owner_at.append([n for _, n in reversed(kinds) if n])
        for ch in line + "\n":
            if ch == "{":
                opener = OPENER.findall(pending)
                if opener and opener[-1] in TEMPLATES:
                    named = NAMED.findall(pending)
                    kinds.append(("template", named[-1] if named else None))
                else:
                    kinds.append(("block", None))
                pending = ""
            elif ch == "}":
                if kinds:
                    kinds.pop()
                pending = ""
            else:
                pending += ch
    found, types = [], []
    for i, line in enumerate(lines):
        t = TYPE.match(line)
        if t and depth_at[i] == 0:
            types.append((i, t.group(1)))
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
        found.append((i, m.group(1), end, owner_at[i]))
    return found, types


def scala_files(root, sub):
    for d, _, fs in os.walk(os.path.join(root, sub)):
        if "/target" in d:
            continue
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def called(name, owners, p, i, end, uses, code_of):
    """Whether a mention of `name` outside lines [i, end) of file `p` is a
    caller. Members of an object count in another file only as
    `Owner.name` (across line breaks too) or through an import of Owner's
    members; members of a class or trait count in any file that names one
    of their enclosing types (instances need not spell their type)."""
    kw, owner = owners[0] if owners else ("object", None)
    if kw == "object" and owner:
        qual = re.compile(r"\b%s\s*\.\s*%s\b" % (owner, name))
        imp = re.compile(r"\bimport\s+[\w.]*\b%s\s*\.\s*(_|\{[^}]*\b%s\b|%s\b)"
                         % (owner, name, name))
    for q in {q for q, j in uses.get(name, []) if q != p or not (i <= j < end)}:
        if q == p:
            return True
        text = code_of(q)
        if kw == "object" and owner:
            if qual.search(text) or imp.search(text):
                return True
        elif any(re.search(r"\b%s\b" % n, text) for _, n in owners):
            return True
    return False


def main(root):
    srcs = {p: open(p, encoding="utf-8").read()
            for sub in ("src/main", "perfbench") for p in scala_files(root, sub)}
    texts = {p: strip(src, False).split("\n") for p, src in srcs.items()}
    joined = {p: "\n".join(lines) for p, lines in texts.items()}
    uses = {}
    for p, lines in texts.items():
        for i, line in enumerate(lines):
            for w in re.findall(r"[A-Za-z_]\w*", line):
                uses.setdefault(w, []).append((p, i))
    uncalled, unnamed = [], []
    for p, lines in texts.items():
        if "/src/main/" not in p:
            continue
        code = strip(srcs[p], True).split("\n")
        defs, types = members(code)
        for i, name, end, owners in defs:
            if re.search(r"\b(private|protected|override)\b", lines[i].split("def")[0]):
                continue
            if not called(name, owners, p, i, end, uses, joined.get):
                uncalled.append((os.path.relpath(p, root), i + 1, name))
        entry = any(DEF.match(line) and DEF.match(line).group(1) == "main"
                    for line in code)
        for i, name in types:
            if re.search(r"\b(private|protected)\b", code[i].split(name)[0]):
                continue
            if entry and re.match(r"\s*object\b", code[i]):
                continue
            if not any((q, j) != (p, i) for q, j in uses.get(name, [])):
                unnamed.append((os.path.relpath(p, root), i + 1, name))
    for path, line, name in sorted(uncalled):
        print(f"{path}:{line} {name}")
    print(f"{len(uncalled)} public defs in src/main with no caller in src/main or perfbench/")
    for path, line, name in sorted(unnamed):
        print(f"{path}:{line} {name}")
    print(f"{len(unnamed)} public top-level types in src/main that nothing in "
          "src/main or perfbench/ names")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
