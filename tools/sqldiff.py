#!/usr/bin/env python3
"""Oracle-SQL diff (dev tool): compare the `oracle_sql.json` of two Verify
dumps with whitespace normalized. Outside quoted literals every run of
whitespace becomes one space, and whitespace just inside parentheses and at
either end is dropped; quoted literals are compared as written. Lists each
query whose oracle SQL differs, or that only one dump has; exit status 1 if
any does, else 0.

Usage: python3 tools/sqldiff.py <verifyDirA> <verifyDirB>
"""
import difflib, json, os, sys


def norm(sql):
    out, quote = [], None
    for c in sql:
        if quote:
            out.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            out.append(c)
        elif c.isspace():
            if out and out[-1] not in " (":
                out.append(" ")
        else:
            if c == ")" and out and out[-1] == " ":
                out.pop()
            out.append(c)
    return "".join(out).strip()


def load(d):
    with open(os.path.join(d, "oracle_sql.json")) as f:
        return {k: norm(v) for k, v in json.load(f).items()}


def main(a, b):
    sa, sb = load(a), load(b)
    bad = []
    for n in sorted(sa.keys() | sb.keys()):
        if n not in sb:
            bad.append(n); print(f"XX {n}: only in A")
        elif n not in sa:
            bad.append(n); print(f"XX {n}: only in B")
        elif sa[n] != sb[n]:
            bad.append(n); print(f"XX {n}: oracle SQL differs")
            # token-level context: SQL has few newlines once normalized
            ta, tb = sa[n].split(" "), sb[n].split(" ")
            for op, i1, i2, j1, j2 in difflib.SequenceMatcher(
                    None, ta, tb, autojunk=False).get_opcodes():
                if op != "equal":
                    print(f"   - {' '.join(ta[i1:i2])[:300]}")
                    print(f"   + {' '.join(tb[j1:j2])[:300]}")
    total = len(sa.keys() | sb.keys())
    print(f"{total - len(bad)}/{total} identical modulo whitespace, {len(bad)} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
