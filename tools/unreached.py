#!/usr/bin/env python3
"""List public engine functions that no engine code calls.

Scans every `.scala` file under src/main and httpbench/src. For each public
`def` declared directly in an object, class or trait (top-level or nested in
another one; not a local def, not an `override`, not `apply`/`unapply`/`main`)
it looks for the def's name as a whole word in the comment-stripped text of
the scanned files, outside the def's own body and other than as the name of
another def. A def whose name appears nowhere else is unreached: only the
tests can call it. The match is by name, so a def whose name also appears as
an unrelated identifier or string counts as reached; deleting an unreached
def can orphan the helpers it alone called, so rerun until the list is
stable.

Each unreached def prints as `Owner.name  path:line`, where Owner is the
innermost enclosing object, class or trait. Entries named in
tools/unreached_keep.txt (`Owner.name  reason`, one per line, `#` comments)
are kept on purpose and print under "kept". Exit status: 1 when an unreached
def is not on the keep-list or a keep-list entry names nothing unreached
(a stale entry), else 0.

Usage: python3 tools/unreached.py [--all]
  --all  also print the kept entries
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["src/main", "httpbench/src"]
KEEP_FILE = os.path.join(ROOT, "tools", "unreached_keep.txt")
IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq", "main"}

TEMPLATE_RE = re.compile(r"\b(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
DEF_RE = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
NOT_PUBLIC_RE = re.compile(r"\b(private|protected|override)\b")
# a statement keyword that ends a pending template header
RESET_RE = re.compile(r"\b(val|var|def|type|import)\b")


def strip_comments(text):
    """Blank out comments, keeping string literals and line structure."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(text[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def blank_strings(code):
    """Blank string and char literals so their braces do not count."""
    return re.sub(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'',
                  lambda m: re.sub(r"[^\n]", " ", m.group(0)), code)


def statement_prefix(code, pos):
    """Modifiers before the `def` at `pos`: its line up to `def`, plus the
    lines above it that hold only annotations or modifiers."""
    line_start = code.rfind("\n", 0, pos) + 1
    prefix = code[line_start:pos]
    while line_start > 0:
        prev_start = code.rfind("\n", 0, line_start - 1) + 1
        prev = code[prev_start:line_start - 1].strip()
        if prev and re.fullmatch(r"(@\S+\s*|(private|protected|final|override|"
                                 r"implicit|inline)(\[\w+\])?\s*)+", prev):
            prefix = prev + " " + prefix
            line_start = prev_start
        else:
            break
    return prefix


def public_defs(code):
    """(owner, name, line, start, end) for each public def declared directly
    in a template body whose enclosing scopes are all templates; [start, end)
    is the def's own text, up to the next member or the closing brace."""
    scan = blank_strings(code)
    token = re.compile(r"[{}]|" + TEMPLATE_RE.pattern + "|" + DEF_RE.pattern + "|"
                       + RESET_RE.pattern)
    stack, pending, found, open_def = [], None, [], None
    for m in token.finditer(scan):
        t = m.group(0)
        if open_def and (len(stack) < open_def[0] or
                         (len(stack) == open_def[0] and t not in "{}")):
            found.append(open_def[1] + (m.start(),))
            open_def = None
        if t == "{":
            stack.append(pending if pending else ("block", None))
            pending = None
        elif t == "}":
            if stack:
                stack.pop()
            pending = None
        elif m.group(1):
            header = statement_prefix(scan, m.start())
            kind = "private" if NOT_PUBLIC_RE.search(header) else m.group(1)
            pending = (kind, m.group(2))
        elif m.group(3):
            pending = None
            name = m.group(3)
            if (stack and all(k in ("object", "class", "trait") for k, _ in stack)
                    and name not in IMPLICIT_NAMES
                    and not NOT_PUBLIC_RE.search(statement_prefix(scan, m.start()))):
                open_def = (len(stack), (stack[-1][1], name,
                                         code.count("\n", 0, m.start()) + 1, m.start()))
        else:
            pending = None
    if open_def:
        found.append(open_def[1] + (len(code),))
    return found


def referenced(name, path, start, end, files):
    """Whether `name` occurs as a word anywhere but in its own def, other
    than as the name of another def (an overload)."""
    pat = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
    for p, code in files.items():
        if name not in code:
            continue
        for m in pat.finditer(code):
            if p == path and start <= m.start() < end:
                continue
            if re.search(r"\bdef\s+$", code[max(0, m.start() - 12):m.start()]):
                continue
            return True
    return False


def load_keep():
    keep = {}
    if os.path.exists(KEEP_FILE):
        for raw in open(KEEP_FILE, encoding="utf-8"):
            line = raw.split("#", 1)[0].strip()
            if line:
                key, _, reason = line.partition(" ")
                keep[key] = reason.strip()
    return keep


def main(argv):
    files = {}
    for d in SCAN_DIRS:
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            for name in sorted(names):
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    with open(path, encoding="utf-8") as f:
                        files[os.path.relpath(path, ROOT)] = strip_comments(f.read())
    unreached = {}
    for path in sorted(files):
        for owner, name, line, start, end in public_defs(files[path]):
            if not referenced(name, path, start, end, files):
                unreached.setdefault(f"{owner}.{name}", f"{path}:{line}")
    keep = load_keep()
    new = {k: v for k, v in unreached.items() if k not in keep}
    stale = sorted(k for k in keep if k not in unreached)
    if "--all" in argv:
        for k in sorted(unreached):
            if k in keep:
                print(f"kept  {k}  {unreached[k]}  ({keep[k]})")
    for k in sorted(new):
        print(f"UNREACHED  {k}  {new[k]}")
    for k in stale:
        print(f"STALE KEEP  {k}  (no unreached def by that name)")
    print(f"{len(unreached)} unreached public defs: {len(unreached) - len(new)} kept, "
          f"{len(new)} not on the keep-list, {len(stale)} stale keep entries")
    return 1 if new or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
