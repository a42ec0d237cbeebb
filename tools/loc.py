#!/usr/bin/env python3
"""Net change in Scala lines of code between a git revision and the work tree.

Counts non-blank, non-comment lines of every `*.scala` file under each
source set (`src/main`, `src/test`): `//` line comments and `/* ... */`
block comments (scaladoc included, nesting as Scala nests them) are
stripped first, string and character literals are kept intact, and a line
counts when anything but whitespace is left on it. The work tree side
includes untracked files that git does not ignore.

    python3 tools/loc.py <rev>          # one line per source set
    python3 tools/loc.py <rev> --files  # plus every file whose count moved
"""

import argparse
import os
import subprocess
import sys

SOURCE_SETS = ("src/main", "src/test")


def code_lines(text):
    """Number of lines with code left once comments are removed."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    has_code = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            if has_code:
                count += 1
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            has_code = has_code or not c.isspace()
            if in_str == '"""' and text.startswith('"""', i):
                i += 3
                while i < n and text[i] == '"':  # """ closing a "-ending string
                    i += 1
                in_str = None
            elif in_str == '"' and c == "\\":
                i += 2
            elif in_str == '"' and c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal such as '"' or '\n'
            end = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            has_code = True
            i = (end + 1) if end > 0 else i + 1
            continue
        has_code = has_code or not c.isspace()
        i += 1
    if has_code:
        count += 1
    return count


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def rev_counts(rev, root):
    out = {}
    for path in git("ls-tree", "-r", "--name-only", rev, "--", root).split("\n"):
        if path.endswith(".scala"):
            out[path] = code_lines(git("show", f"{rev}:{path}"))
    return out


def tree_counts(root):
    out = {}
    listed = git("ls-files", "--cached", "--others", "--exclude-standard",
                 "--", root)
    for path in listed.split("\n"):
        if path.endswith(".scala") and os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                out[path] = code_lines(f.read())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", help="git revision to compare the work tree with")
    ap.add_argument("--files", action="store_true",
                    help="also list every file whose count changed")
    args = ap.parse_args()
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    print(f"{'source set':<10} {args.rev[:12]:>12} {'work tree':>10} {'net':>7}")
    for root in SOURCE_SETS:
        before, after = rev_counts(args.rev, root), tree_counts(root)
        b, a = sum(before.values()), sum(after.values())
        print(f"{root:<10} {b:>12} {a:>10} {a - b:>+7}")
        if args.files:
            for path in sorted(set(before) | set(after)):
                d = after.get(path, 0) - before.get(path, 0)
                if d:
                    print(f"  {path}: {before.get(path, 0)} -> "
                          f"{after.get(path, 0)} ({d:+})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
