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

With --options it prints instead the option census: for every defaulted
parameter of a def or class constructor in src/main (case-class fields
included), the distinct values that callers in src/main and perfbench/ pass
to it, the default counted when a call leaves it out. A caller is found by
the same owner rules as above (a constructor by `Name(`/`new Name(`, a
case-class field also by `.copy(field = v)` in a file naming the class).
Values are compared as whitespace-normalised source text. An argument that
is a parameter of the enclosing member def stands for the values that def's
callers pass to it, so a forwarding wrapper does not count as a second
value. Prints one line per parameter, `path:line Owner.def(param) n: v1 |
v2 ...`, marked ONE when exactly one value is in use, then the counts.
Overloads and calls spelled without an argument list (eta-expansion, a
block argument) are not told apart, so a listed value set is a census, not
a proof.
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


def scan(lines):
    """Per line: the brace depth, the kind of the innermost block
    ("template", "block" or "top") and the enclosing named templates as
    (keyword, name) pairs, innermost first."""
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
    return depth_at, kind_at, owner_at


def members(lines):
    """(line index, name, end index, enclosing types) of each public
    template-member def, and (line index, name) of each top-level type.
    A def ends at the next line at its own depth that starts a member or
    closes the template."""
    depth_at, kind_at, owner_at = scan(lines)
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


HEAD = re.compile(
    r"\b(?:(def)\s+([A-Za-z_]\w*)|(?:(case)\s+)?class\s+([A-Za-z_]\w*))")
NAMED_ARG = re.compile(r"^([A-Za-z_]\w*)\s*=(?![=>])\s*(.*)$", re.S)
PARAM = re.compile(r"^(?:(?:@\w+|implicit|override|private(?:\[\w+\])?|"
                   r"protected|final|val|var)\s+)*([A-Za-z_]\w*)\s*:", re.S)


def group(text, i):
    """The end index (past the closer) of the bracket group opening at
    text[i], skipping string and char literals."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack, j, n = [], i, len(text)
    while j < n:
        c = text[j]
        if text.startswith('"""', j):
            k = text.find('"""', j + 3)
            j = n if k < 0 else k + 3
            continue
        if c == '"':
            j += 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[j:j + 4]):
            j += len(re.match(r"'(\\.|[^\\'\n])'", text[j:j + 4]).group(0)) - 1
        elif c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
            if not stack:
                return j + 1
        j += 1
    return n


def split_top(body):
    """Split a bracket group's inside at its top-level commas."""
    parts, depth, cur, j, n = [], 0, [], 0, len(body)
    while j < n:
        c = body[j]
        if c in "([{" or c == '"':
            k = group(body, j) if c != '"' else group(body, j)
            if c == '"':
                k = j + 1
                while k < n and body[k] != '"':
                    k += 2 if body[k] == "\\" else 1
                k += 1
            cur.append(body[j:k])
            j = k
            continue
        if c == ",":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        j += 1
    parts.append("".join(cur))
    return [x.strip() for x in parts if x.strip()]


def top_eq(decl):
    """Index of the top-level `=` (not `=>`, `==`, `<=`, `>=`, `!=`) of a
    parameter declaration, or -1."""
    depth = 0
    for j, c in enumerate(decl):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = decl[j + 1:j + 2]
            prv = decl[j - 1:j] if j else ""
            if nxt not in ("=", ">") and prv not in ("=", "<", ">", "!"):
                return j
    return -1


def norm(v):
    return re.sub(r"\s+", " ", v).strip()


def param_lists(text, j):
    """The parameter lists that follow a def or class name ending at j:
    [[(name, default or None)]], skipping type parameters; implicit lists
    are dropped."""
    n = len(text)
    while j < n and text[j] in " \t":
        j += 1
    if j < n and text[j] == "[":
        j = group(text, j)
    lists = []
    while True:
        k = j
        while k < n and text[k] in " \t\n":
            k += 1
        if k >= n or text[k] != "(":
            break
        end = group(text, k)
        body = text[k + 1:end - 1]
        j = end
        if re.match(r"\s*implicit\b", body):
            continue
        ps = []
        for decl in split_top(body):
            m = PARAM.match(decl)
            if not m:
                continue
            e = top_eq(decl)
            ps.append((m.group(1), norm(decl[e + 1:]) if e >= 0 else None))
        lists.append(ps)
    return lists, j


def options(root):
    srcs = {p: open(p, encoding="utf-8").read()
            for sub in ("src/main", "perfbench") for p in scala_files(root, sub)}
    code = {p: strip(src, False) for p, src in srcs.items()}
    lines_of = {p: c.split("\n") for p, c in code.items()}
    offsets = {}
    for p, c in code.items():
        offs, o = [], 0
        for line in c.split("\n"):
            offs.append(o)
            o += len(line) + 1
        offsets[p] = offs

    def line_at(p, pos):
        offs = offsets[p]
        lo, hi = 0, len(offs) - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if offs[mid] <= pos:
                lo = mid
            else:
                hi = mid - 1
        return lo

    # every def and constructor: key (path, line) -> record
    defs = {}
    spans = {}  # path -> [(start, end, key)] of template-member defs
    for p, c in code.items():
        blanked = strip(srcs[p], True).split("\n")
        members_found, _ = members(blanked)
        member_end = {i: end for i, _, end, _ in members_found}
        owner_at = scan(blanked)[2]
        for m in HEAD.finditer(c):
            if re.search(r"(\"|\$\{?)$", c[max(0, m.start() - 2):m.start()]):
                continue
            name = m.group(2) or m.group(4)
            i = line_at(p, m.start())
            if blanked[i].find(name) < 0:
                continue  # inside a string literal
            lists, _ = param_lists(c, m.end())
            kind = "def" if m.group(1) else ("case" if m.group(3) else "class")
            owners = owner_at[i]
            key = (p, i)
            defs[key] = dict(name=name, kind=kind, lists=lists, owners=owners,
                             member=i in member_end, calls=[])
            if i in member_end:
                spans.setdefault(p, []).append((i, member_end[i], key))

    by_name = {}
    for key, d in defs.items():
        by_name.setdefault(d["name"], []).append(key)

    def enclosing(p, line):
        best = None
        for s, e, key in spans.get(p, []):
            if s <= line < e and (best is None or s >= best[0]):
                best = (s, key)
        return best[1] if best else None

    def visible(key, q):
        """Whether a bare or qualified mention in file q may call def key."""
        d = defs[key]
        p = key[0]
        if q == p:
            return "any"
        if d["kind"] != "def":
            return "any"
        if not d["member"]:
            return None
        kw, owner = d["owners"][0] if d["owners"] else ("object", None)
        if kw == "object" and owner:
            imp = re.search(r"\bimport\s+[\w.]*\b%s\s*\.\s*(_|\{[^}]*\b%s\b|%s\b)"
                            % (owner, d["name"], d["name"]), code[q])
            return "any" if imp else owner
        if any(re.search(r"\b%s\b" % n, code[q]) for _, n in d["owners"]):
            return "dot"
        return None

    for name, keys in by_name.items():
        if not any(defs[k]["lists"] and any(dflt is not None for ps in defs[k]["lists"]
                                             for _, dflt in ps) for k in keys):
            continue
        pat = re.compile(r"(?<![\w$])%s\b" % re.escape(name))
        for q, c in code.items():
            for m in pat.finditer(c):
                before = c[max(0, m.start() - 40):m.start()]
                if re.search(r"\b(def|class|object|trait|type|val|var)\s+$", before):
                    continue
                if re.search(r"\bcase\s+$", before):
                    continue  # a pattern, not a construction
                j = m.end()
                while j < len(c) and c[j] in " \t":
                    j += 1
                if j < len(c) and c[j] == "[":
                    j = group(c, j)
                # the argument groups that follow
                groups = []
                while True:
                    k = j
                    while k < len(c) and c[k] in " \t" + ("\n" if groups else ""):
                        k += 1
                    if k >= len(c) or c[k] != "(":
                        break
                    end = group(c, k)
                    groups.append(split_top(c[k + 1:end - 1]))
                    j = end
                if not groups:
                    continue
                qualified = re.search(r"\b([A-Za-z_]\w*)\s*\.\s*$", before)
                dotted = re.search(r"\.\s*$", before)
                line = line_at(q, m.start())
                for key in keys:
                    d = defs[key]
                    vis = visible(key, q)
                    if vis is None:
                        continue
                    if vis not in ("any", "dot") and not (qualified and qualified.group(1) == vis):
                        continue
                    if d["kind"] == "def" and d["member"] and d["owners"] and \
                            d["owners"][0][0] == "object" and qualified and \
                            qualified.group(1)[0].isupper() and \
                            qualified.group(1) != d["owners"][0][1]:
                        continue
                    if d["kind"] != "def" and dotted and not (
                            qualified and (qualified.group(1)[0].islower() or any(
                                qualified.group(1) == n for _, n in d["owners"]))):
                        continue
                    if len(groups) > len(d["lists"]) and d["kind"] == "def":
                        groups_used = groups[:len(d["lists"])]
                    else:
                        groups_used = groups
                    ok = True
                    for ps, args in zip(d["lists"], groups_used):
                        names = {n for n, _ in ps}
                        pos = [a for a in args if not (NAMED_ARG.match(a) and NAMED_ARG.match(a).group(1) in names)]
                        if len(pos) > len(ps) and not any("*" in (dflt or "") for _, dflt in ps):
                            ok = False
                    if not ok:
                        continue
                    d["calls"].append((q, line, groups_used))
        # .copy(field = v) on a case class
        for key in keys:
            d = defs[key]
            if d["kind"] != "case" or not d["lists"]:
                continue
            fields = {n for n, dflt in d["lists"][0] if dflt is not None}
            for q, c in code.items():
                if not re.search(r"\b%s\b" % name, c):
                    continue
                for m in re.finditer(r"(?<![\w$])copy\s*\(", c):
                    args = split_top(c[m.end() - 1 + 1:group(c, m.end() - 1) - 1])
                    named = {NAMED_ARG.match(a).group(1): a for a in args if NAMED_ARG.match(a)}
                    if named and set(named) <= {n for n, _ in d["lists"][0]} and set(named) & fields:
                        d.setdefault("copies", []).append(
                            (q, line_at(q, m.start()), {f: norm(NAMED_ARG.match(a).group(2)) for f, a in named.items()}))

    # values per (def key, list index, param name); a value is ("lit", text)
    # or ("ref", def key, param name)
    vals = {}
    for key, d in defs.items():
        for li, ps in enumerate(d["lists"]):
            for pi, (pname, dflt) in enumerate(ps):
                vs = set()
                for q, line, groups in d["calls"]:
                    if li >= len(groups):
                        if dflt is not None:
                            vs.add(("lit", dflt))
                        continue
                    args = groups[li]
                    names = {n for n, _ in ps}
                    named = {}
                    pos = []
                    for a in args:
                        na = NAMED_ARG.match(a)
                        if na and na.group(1) in names:
                            named[na.group(1)] = norm(na.group(2))
                        else:
                            pos.append(norm(a))
                    if pname in named:
                        v = named[pname]
                    elif pi < len(pos):
                        v = pos[pi]
                    elif dflt is not None:
                        v = dflt
                    else:
                        continue
                    enc = enclosing(q, line)
                    if enc and enc != key and re.fullmatch(r"[A-Za-z_]\w*", v):
                        for eli, eps in enumerate(defs[enc]["lists"]):
                            if v in {n for n, _ in eps}:
                                vs.add(("ref", enc, v))
                                break
                        else:
                            vs.add(("lit", v))
                    elif enc == key and re.fullmatch(r"[A-Za-z_]\w*", v) and \
                            v in {n for n, _ in ps}:
                        pass  # a recursive call passing its own parameter on
                    else:
                        vs.add(("lit", v))
                for q, line, named in d.get("copies", []):
                    if li == 0 and pname in named:
                        vs.add(("lit", named[pname]))
                vals[(key, pname)] = vs

    resolved = {}

    def resolve(k, seen):
        if k in resolved:
            return resolved[k]
        out = set()
        for v in vals.get(k, set()):
            if v[0] == "lit":
                out.add(v[1])
            elif (v[1], v[2]) not in seen:
                out |= resolve((v[1], v[2]), seen | {k})
        if not seen:
            resolved[k] = out
        return out

    rows = []
    for key, d in defs.items():
        if "/src/main/" not in key[0]:
            continue
        owner = d["owners"][0][1] if d["owners"] and d["owners"][0][1] else None
        label = ("%s.%s" % (owner, d["name"])) if owner and d["kind"] == "def" else d["name"]
        for ps in d["lists"]:
            for pname, dflt in ps:
                if dflt is None:
                    continue
                vs = sorted(resolve((key, pname), frozenset()))
                rows.append((os.path.relpath(key[0], root), key[1] + 1,
                             "%s(%s)" % (label, pname), vs, bool(d["calls"]) or bool(d.get("copies"))))
    one = 0
    for path, line, what, vs, has in sorted(rows):
        mark = "ONE " if len(vs) == 1 else ("NONE" if not vs else "    ")
        one += len(vs) == 1
        print(f"{mark} {path}:{line} {what} {len(vs)}: {' | '.join(vs) if vs else '(no caller)'}")
    print(f"{len(rows)} defaulted parameters in src/main; {one} with one value "
          f"in use; {sum(1 for r in rows if not r[3])} with no caller")


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--options"]
    root = args[0] if args else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    (options if "--options" in sys.argv[1:] else main)(root)
