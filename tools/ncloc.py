#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per file at two git revisions.

    python3 tools/ncloc.py REV_A REV_B PATH...

Each PATH is a file or a directory; every `.scala` file under it at
either revision is read through `git show REV:FILE` (the working tree
is never read), so the counts are reproducible from the commits alone.
A file missing at one revision counts 0 there.

A line counts when any of its characters lies outside a comment and is
not whitespace. Comments are `//` to the end of the line and `/* */`
blocks, scaladoc (`/** */`) and nested blocks included; `//` and `/*`
inside string literals (plain, triple-quoted, interpolated) and
character literals are text, not comments. Raw line counts are printed
beside them.
"""
import subprocess
import sys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout


def scala_files(rev, paths):
    out = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    return {f for f in out.splitlines() if f.endswith(".scala")}


def source(rev, path):
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return None


def ncloc(text):
    """Lines holding a non-whitespace character outside every comment."""
    code_lines = set()
    line, i, n = 0, 0, len(text)
    depth = 0        # nesting depth of /* */ blocks
    string = None    # '"' or '"""' while inside a string literal
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
            continue
        if string:
            if not c.isspace():
                code_lines.add(line)
            if string == '"""':
                if text.startswith('"""', i):
                    # a run of quotes closes on its last three
                    while text.startswith('""""', i):
                        i += 1
                    string, i = None, i + 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == '"':
                string, i = None, i + 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth, i = 1, i + 2
            continue
        if not c.isspace():
            code_lines.add(line)
        if text.startswith('"""', i):
            string, i = '"""', i + 3
        elif c == '"':
            string, i = '"', i + 1
        elif c == "'" and text.startswith("'", i + 2) and text[i + 1] != "\\":
            i += 3  # 'x'
        elif c == "'" and text[i + 1:i + 2] == "\\":
            close = text.find("'", i + 2)
            i = close + 1 if close != -1 else i + 1  # '\n', 'A'
        else:
            i += 1
    return len(code_lines)


def counts(rev, path):
    text = source(rev, path)
    if text is None:
        return 0, 0
    return ncloc(text), len(text.splitlines())


def main(argv):
    if len(argv) < 4:
        sys.exit(__doc__)
    rev_a, rev_b, paths = argv[1], argv[2], argv[3:]
    files = sorted(scala_files(rev_a, paths) | scala_files(rev_b, paths))
    width = max([len(f) for f in files] + [5])
    print(f"{'file':<{width}}  {'before':>7} {'after':>7} {'delta':>7}   "
          f"{'raw before':>10} {'raw after':>9} {'delta':>7}")
    total = [0, 0, 0, 0]
    for f in files:
        (a, ra), (b, rb) = counts(rev_a, f), counts(rev_b, f)
        total = [total[0] + a, total[1] + b, total[2] + ra, total[3] + rb]
        print(f"{f:<{width}}  {a:>7} {b:>7} {b - a:>+7}   {ra:>10} {rb:>9} {rb - ra:>+7}")
    a, b, ra, rb = total
    print(f"{'total':<{width}}  {a:>7} {b:>7} {b - a:>+7}   {ra:>10} {rb:>9} {rb - ra:>+7}")


if __name__ == "__main__":
    main(sys.argv)
