"""Count the parameters that declare a default value in Scala sources.

Usage:  python3 tools/default_params.py [--list] [dir ...]   (default: src/main)

Comments are stripped, then every `def`/`class` parameter list is split
at top-level commas; a parameter counts when it carries a top-level `=`
that is not part of `=>`, `==`, `<=`, `>=` or `!=`. With --list, prints
one `file<TAB>def<TAB>param<TAB>default` line per parameter before the
total.
"""
import os
import re
import sys


def strip_comments(s):
    out, i, n = [], 0, len(s)
    while i < n:
        if s.startswith("//", i):
            j = s.find("\n", i)
            i = n if j < 0 else j
        elif s.startswith("/*", i):
            j = s.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * s[i:j].count("\n"))
            i = j
        elif s.startswith('"""', i):
            j = s.find('"""', i + 3) + 3
            out.append('""' + "\n" * s[i:j].count("\n"))
            i = j
        elif s[i] == '"':
            j = i + 1
            while j < n and s[j] != '"':
                j += 2 if s[j] == "\\" else 1
            out.append(s[i:j + 1])
            i = j + 1
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def closing(s, i, open_ch, close_ch):
    depth = 0
    for j in range(i, len(s)):
        if s[j] == open_ch:
            depth += 1
        elif s[j] == close_ch:
            depth -= 1
            if depth == 0:
                return j
    return len(s) - 1


def split_top(s):
    parts, depth, cur = [], 0, ""
    for ch in s:
        depth += ch in "([{"
        depth -= ch in ")]}"
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    return parts + [cur]


def defaulted(path):
    s = strip_comments(open(path).read())
    for m in re.finditer(r"\b(?:def|class)\s+([A-Za-z_]\w*)", s):
        i = m.end()
        while i < len(s) and s[i].isspace():
            i += 1
        if i < len(s) and s[i] == "[":
            i = closing(s, i, "[", "]") + 1
        while True:
            while i < len(s) and s[i].isspace():
                i += 1
            if i >= len(s) or s[i] != "(":
                break
            j = closing(s, i, "(", ")")
            for p in split_top(s[i + 1:j]):
                if re.search(r"(?<![=<>!])=(?![>=])", p):
                    name = p.split(":")[0].split()[-1] if ":" in p else p
                    yield m.group(1), name, p.split("=", 1)[1].strip()
            i = j + 1


def main(argv):
    show = "--list" in argv
    roots = [a for a in argv if a != "--list"] or ["src/main"]
    total = 0
    for root in roots:
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    for fn, name, dflt in defaulted(p):
                        total += 1
                        if show:
                            print(f"{p}\t{fn}\t{name}\t{dflt}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
