"""Net code, comment and blank lines between two git revisions.

    python3 tools/net_loc.py <base> [<head>]

Counts the Scala and Python files under src/main, src/test and tools at
<base> and at <head> (default: the working tree), and prints, per file
that differs and per group, the change in code, comment and blank lines.
A line is a comment when it holds nothing but comment text (`//`, `/* */`
and scaladoc blocks in Scala; `#` lines and docstrings in Python); a
line with code and a trailing comment counts as code.
"""
import subprocess
import sys

ROOTS = ("src/main", "src/test", "tools")
EXTS = (".scala", ".py")


def git(*args):
    return subprocess.run(("git",) + args, capture_output=True, text=True,
                          check=True).stdout


def files_at(rev):
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard", *ROOTS)
    else:
        out = git("ls-tree", "-r", "--name-only", rev, *ROOTS)
    return {p for p in out.splitlines() if p.endswith(EXTS)}


def text_at(rev, path):
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return ""
    return git("show", f"{rev}:{path}")


def count(path, text):
    """(code, comment, blank) lines of one file."""
    code = comment = blank = 0
    in_block = None  # closing token of an open block comment or docstring
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            comment += 1
            if in_block in line:
                in_block = None
            continue
        if not line:
            blank += 1
        elif path.endswith(".py"):
            quote = line[:3]
            if line.startswith("#"):
                comment += 1
            elif quote in ('"""', "'''"):
                comment += 1
                if line.count(quote) == 1:
                    in_block = quote
            else:
                code += 1
        elif line.startswith("//"):
            comment += 1
        elif line.startswith("/*"):
            comment += 1
            if "*/" not in line:
                in_block = "*/"
        else:
            code += 1
    return code, comment, blank


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    base = sys.argv[1]
    head = sys.argv[2] if len(sys.argv) == 3 else None
    at_base, at_head = files_at(base), files_at(head)
    totals = {}
    rows = []
    for p in sorted(at_base | at_head):
        a = count(p, text_at(base, p)) if p in at_base else (0, 0, 0)
        b = count(p, text_at(head, p)) if p in at_head else (0, 0, 0)
        d = tuple(y - x for x, y in zip(a, b))
        if any(d):
            rows.append((p, d))
        group = next(r for r in ROOTS if p.startswith(r + "/"))
        t = totals.setdefault(group, [0, 0, 0])
        for i in range(3):
            t[i] += d[i]
    print(f"{'code':>7} {'comment':>8} {'blank':>6}  file")
    for p, (c, m, bl) in rows:
        print(f"{c:+7d} {m:+8d} {bl:+6d}  {p}")
    print()
    for g in ROOTS:
        c, m, bl = totals.get(g, (0, 0, 0))
        print(f"{c:+7d} {m:+8d} {bl:+6d}  {g} (total {c + m + bl:+d})")


if __name__ == "__main__":
    main()
