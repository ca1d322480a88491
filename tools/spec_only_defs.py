#!/usr/bin/env python3
"""List the src/main defs that no program code calls.

Usage (from anywhere):

    python3 tools/spec_only_defs.py [--root DIR]

DIR is the repository root (default: the parent of this script's
directory). The script reads the Scala sources under ``src/main/scala``,
``perfbench/src`` and ``src/test/scala`` and writes nothing.

A ``def`` in ``src/main`` is listed when its name occurs nowhere else in
the code of ``src/main`` or ``perfbench/src``: comments are ignored, and
so is the text of string literals, except the ``$name`` and ``${...}``
splices of interpolated strings. A plain ``private def`` is searched for
in its own file only. Overrides, ``main``, ``apply`` and ``unapply`` are
never listed. Each listed def is followed by the spec files whose code
names it, or by ``(no caller)``.

The scan repeats until nothing changes: a use inside the body of a def
already listed, or inside the def's own body, does not count, so a def
whose only callers are listed defs is listed too. A body runs from the
``def`` line to the next line indented no deeper (a closing bracket
there still belongs to it).

The match is by name, so it errs towards "called": a def that shares its
name with another def, a local value or a library method (``fit``,
``count``) counts as called wherever that name is used.
"""
import argparse
import os
import re
import sys

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(
    r"^(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
    r"(?:object|trait|class)\s+(\w+)")
NEVER_LISTED = {"main", "apply", "unapply"}


def _blank(text):
    """Spaces for every character of text, newlines kept."""
    return "".join("\n" if ch == "\n" else " " for ch in text)


def _splices(body):
    """The $name and ${...} splices of an interpolated string body, with
    the literal text around them blanked."""
    out = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "$" and i + 1 < len(body) and body[i + 1] == "{":
            depth, j = 0, i + 1
            while j < len(body):
                if body[j] == "{":
                    depth += 1
                elif body[j] == "}":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            out.append("  " + body[i + 2:j] + " ")
            i = j + 1
        elif ch == "$" and i + 1 < len(body) and IDENT.match(body, i + 1):
            m = IDENT.match(body, i + 1)
            out.append(" " + m.group(0))
            i = m.end()
        else:
            out.append("\n" if ch == "\n" else " ")
            i += 1
    return "".join(out)


def code_only(src):
    """src with comments and literal string text blanked out; the length
    and the line breaks are kept, so offsets and line numbers still hold."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(_blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            # Scala block comments nest
            depth, j = 0, i
            while j < n:
                if src.startswith("/*", j):
                    depth += 1
                    j += 2
                elif src.startswith("*/", j):
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            out.append(_blank(src[i:j]))
            i = j
        elif src[i] == '"':
            k = i - 1
            while k >= 0 and (src[k].isalnum() or src[k] == "_"):
                k -= 1
            interpolated = k + 1 < i
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j
                while j + 3 < n and src[j + 3] == '"':
                    j += 1
                body, end = src[i + 3:j], min(n, j + 3)
                out.append("   " + (_splices(body) if interpolated else _blank(body)) + "   ")
            else:
                j = i + 1
                while j < n and src[j] not in '"\n':
                    j += 2 if src[j] == "\\" else 1
                body, end = src[i + 1:j], min(n, j + 1)
                out.append(" " + (_splices(body) if interpolated else _blank(body)) + " ")
            out[-1] = out[-1][:end - i]
            i = end
        elif src[i] == "'":
            m = re.match(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:i + 8])
            if m:
                out.append(_blank(m.group(0)))
                i += m.end()
            else:
                out.append("'")
                i += 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(dirpath, name)


def load(paths):
    return {p: code_only(open(p, encoding="utf-8").read()) for p in paths}


def extent(code, pos):
    """(start, end) offsets of the def whose name starts at pos: from its
    line to the next non-blank line indented no deeper, a closing
    bracket on that line included."""
    start = code.rfind("\n", 0, pos) + 1
    indent = len(code[start:pos]) - len(code[start:pos].lstrip(" "))
    i = code.find("\n", pos)
    while 0 <= i < len(code):
        j = code.find("\n", i + 1)
        j = len(code) if j < 0 else j
        line = code[i + 1:j]
        stripped = line.lstrip(" ")
        if stripped and len(line) - len(stripped) <= indent:
            return (start, j if stripped[0] in "})" else i)
        i = j
    return (start, len(code))


def owner(code, pos):
    """The top-level object, trait or class a definition sits in."""
    name = None
    for line in code[:pos].split("\n"):
        m = TEMPLATE.match(line)
        if m:
            name = m.group(1)
    return name


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    root = args.root

    main_src = load(scala_files(os.path.join(root, "src", "main", "scala")))
    bench_src = load(scala_files(os.path.join(root, "perfbench", "src")))
    test_src = load(scala_files(os.path.join(root, "src", "test", "scala")))
    program = {**main_src, **bench_src}

    # every definition site, so that a def's own name is not its caller
    def_sites = set()
    defs = []
    for path, code in main_src.items():
        for m in DEF.finditer(code):
            def_sites.add((path, m.start(1)))
            line_start = code.rfind("\n", 0, m.start()) + 1
            mods = code[line_start:m.start()]
            name = m.group(1)
            if "override" in mods or name in NEVER_LISTED:
                continue
            private = re.search(r"\bprivate\b(?!\[)", mods) is not None
            defs.append((path, m.start(1), name, private))

    uses = {}
    for path, code in program.items():
        for m in IDENT.finditer(code):
            if (path, m.start()) not in def_sites:
                uses.setdefault(m.group(0), []).append((path, m.start()))
    spans = {(path, pos): extent(main_src[path], pos) for path, pos, _, _ in defs}

    def inside(use, key):
        path, at = use
        return path == key[0] and spans[key][0] <= at < spans[key][1]

    listed = set()
    while True:
        now = set()
        for path, pos, name, private in defs:
            key = (path, pos)
            live = [u for u in uses.get(name, [])
                    if not inside(u, key) and not any(inside(u, d) for d in listed)
                    and (u[0] == path or not private)]
            if not live:
                now.add(key)
        if now == listed:
            break
        listed = now
    spec_uses = {}
    for path, code in test_src.items():
        for m in IDENT.finditer(code):
            spec_uses.setdefault(m.group(0), set()).add(os.path.basename(path)[:-len(".scala")])

    rows = []
    for path, pos, name, private in defs:
        if (path, pos) not in listed:
            continue
        code = main_src[path]
        line = code.count("\n", 0, pos) + 1
        specs = sorted(spec_uses.get(name, set())) if not private else []
        rel = os.path.relpath(path, root)
        rows.append((rel, line, f"{owner(code, pos)}.{name}", specs))

    rows.sort()
    for rel, line, qname, specs in rows:
        print(f"{rel}:{line} {qname}  <- {', '.join(specs) if specs else '(no caller)'}")
    spec_only = sum(1 for r in rows if r[3])
    print(f"{len(rows)} defs with no caller in src/main or perfbench/src: "
          f"{spec_only} called from specs, {len(rows) - spec_only} from nothing")
    return 0


if __name__ == "__main__":
    sys.exit(main())
