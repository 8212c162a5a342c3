#!/usr/bin/env python3
"""List the public members of src/main that no production entry point reaches:
defs, vals, classes, traits and objects.

Roots are every catalog file (src/main/scala/graft/catalog), every object
with a `def main`, and every file under perfbench/harness. From there the
sweep follows names transitively: a member (def, val, class, object) is
reached when a reached piece of code names it and its enclosing template is
reached too. Words inside comments and string literals do not count (the
names a string interpolates, `$name` and `${...}`, do), and neither do
references made from inside members that are themselves unreached, so a
cluster of defs that only call each other stays unreached.

Name-based, so it errs towards "reached": two members that share a name are
both reached when either name is used, and a local val still reaches a
member of the same name. A class or trait member is reached
by its name alone, since a call through a supertype never names the class.
A reached class or trait also reaches its `override`, `implicit` and
IMPLICIT_NAMES members, and a reached object reaches its plain vals (they
run when the object initializes).

A val counts as unreached when no reached code names it outside its own
declaration, even though it runs when its object initializes. A class,
trait or object counts as unreached when nothing reached names it; its
members are then not listed again.

Prints `<code lines>  <Owner.name>  <file>:<line>` for every unreached
public member, code lines counted as tools/loc.py counts them; then the
kept exceptions with their reasons; then the total.

Usage: python3 tools/reach.py [root]
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import code_lines  # noqa: E402

# Public members that stay although no entry point reaches them.
EXCEPTIONS = {
    "Vectors.cosineNearDupPairs":
        "exact all-pairs reference the banded-join specs compare against",
    "StreamOps.bloomDedupSink":
        "stays until its Bloom sketch folds into the one dedup sink",
    "StreamOps.bloomDedupBatch":
        "stays until its Bloom sketch folds into the one dedup sink",
    "RunLogger.debug":
        "the DEBUG level of the run logger's API",
}

DECL = re.compile(
    r"\b(def|val|var|class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODS = re.compile(r"\b(private|protected|override|implicit)\b")
# Members the compiler or Spark calls without naming them: `apply`/`unapply`
# (`X(...)`, patterns), `main`, and the callbacks and encoders of an
# `Aggregator`.
IMPLICIT_NAMES = {"apply", "unapply", "main", "zero", "reduce", "merge",
                  "finish", "bufferEncoder", "outputEncoder"}


def blank(text):
    """`text` with comments and the contents of string and char literals
    blanked, except the names an interpolated string splices in (`$name`,
    `${...}`), which stay code. Newlines and offsets are kept, so positions
    line up with the source."""
    code = list(text)
    i, n = 0, len(text)

    def wipe(a, b):
        for k in range(a, b):
            if code[k] != "\n":
                code[k] = " "

    def string(i, quote):
        """Blank the literal opening at `i`; return the index past it."""
        interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
        j, keep = i + len(quote), []
        while j < n and not text.startswith(quote, j):
            if quote == '"' and text[j] == "\n":
                break
            if quote == '"' and text[j] == "\\":
                j += 2
            elif interpolated and text.startswith("${", j):
                depth, k = 1, j + 2
                while k < n and depth:
                    depth += {"{": 1, "}": -1}.get(text[k], 0)
                    k += 1
                keep.append((j + 2, k - 1))
                j = k
            elif interpolated and text[j] == "$" and IDENT.match(text, j + 1):
                end = IDENT.match(text, j + 1).end()
                keep.append((j + 1, end))
                j = end
            else:
                j += 1
        wipe(i + len(quote), min(j, n))
        for a, b in keep:
            code[a:b] = text[a:b]
        return j + len(quote)

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            wipe(i, j)
            i = j
        elif text.startswith('"""', i):
            i = string(i, '"""')
        elif text[i] == '"':
            i = string(i, '"')
        elif text[i] == "'" and i + 2 < n and text[i + 2] == "'":
            wipe(i + 1, i + 2)
            i += 3
        elif text.startswith("'\\", i):
            j = text.find("'", i + 2)
            j = n if j < 0 else j
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(code)


class Unit:
    def __init__(self, kind, name, owner, path, line, mods):
        self.kind, self.name, self.owner = kind, name, owner
        self.path, self.line, self.mods = path, line, mods
        self.spans = []        # [start, end) offsets attributed to this unit
        self.children = []

    def qual(self):
        chain, u = [], self
        while u is not None and u.kind != "file":
            chain.append(u.name)
            u = u.owner
        return ".".join(reversed(chain[:2]))


def parse(path, rel):
    """All members of `path` as Units under one file-scope Unit."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    code = blank(text)
    root = Unit("file", rel, None, rel, 1, set())
    decls = {}
    for m in DECL.finditer(code):
        decls[m.start()] = m
    # scopes: (kind, template unit or None, paren depth at open)
    scopes = [("template", root)]
    current = {id(root): root}
    pending = None             # a template declared, its `{` not yet seen
    paren = 0
    span_start, span_unit = 0, root

    def attribute(at, unit):
        nonlocal span_start, span_unit
        if at > span_start:
            span_unit.spans.append((span_start, at))
        span_start, span_unit = at, unit

    def owner_unit():
        for kind, u in reversed(scopes):
            if kind == "template":
                return current[id(u)]
        return root

    i, n = 0, len(code)
    while i < n:
        m = decls.get(i)
        if m is not None and (i == 0 or not (code[i - 1].isalnum() or code[i - 1] in "_.")):
            kind, name = m.group(1), m.group(2)
            top_kind, top = scopes[-1]
            if top_kind == "template" and paren == 0:
                line_start = code.rfind("\n", 0, i) + 1
                prefix = code[line_start:i]
                mods = set(MODS.findall(prefix))
                if "case" in prefix.split() and kind == "class":
                    mods.add("case")
                u = Unit(kind, name, top, rel, code.count("\n", 0, i) + 1, mods)
                top.children.append(u)
                current[id(top)] = u
                attribute(line_start if line_start > span_start else i, u)
                pending = u if kind in ("class", "object", "trait") else None
            else:
                pending = None
            i = m.end()
            continue
        c = code[i]
        if c in "([":
            paren += 1
        elif c in ")]":
            paren -= 1
        elif c == "{":
            if pending is not None and paren == 0:
                scopes.append(("template", pending))
                current[id(pending)] = pending
                pending = None
            else:
                scopes.append(("block", paren))
                paren = 0
        elif c == "}":
            if len(scopes) > 1:
                kind, ref = scopes.pop()
                if kind == "block":
                    paren = ref
                else:
                    attribute(i + 1, owner_unit())
        elif c == "\n" and pending is not None and paren == 0:
            rest = code[i + 1:].lstrip()
            prev = code[:i].rstrip()
            if not (rest.startswith(("extends", "with", "{")) or
                    prev.endswith((",", "(", "with", "extends", "=>"))):
                pending = None
        i += 1
    attribute(n, root)
    return text, code, root


def walk(u):
    yield u
    for c in u.children:
        yield from walk(c)


def main(argv):
    root_dir = argv[0] if argv else os.path.join(os.path.dirname(__file__), "..")
    main_dir = os.path.join(root_dir, "src/main/scala")
    files = []
    for base in (main_dir, os.path.join(root_dir, "perfbench/harness")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]

    units, roots, texts = [], [], {}
    for path in files:
        rel = os.path.relpath(path, root_dir)
        text, code, file_unit = parse(path, rel)
        texts[rel] = (text, code)
        every = list(walk(file_unit))
        units += every
        if rel.startswith(("perfbench/", "src/main/scala/graft/catalog/")):
            roots += every
            continue
        for u in every:
            if u.kind == "object" and any(c.kind == "def" and c.name == "main"
                                          for c in u.children):
                roots += list(walk(u))

    def names_in(u):
        code = texts[u.path][1]
        out = set()
        for a, b in u.spans:
            out.update(IDENT.findall(code[a:b]))
        return out

    by_name = {}
    for u in units:
        if u.kind != "file":
            by_name.setdefault(u.name, []).append(u)

    reached = set()
    named = set()
    used = set()     # names reached code uses outside their own declaration
    work = []

    def reach(u):
        if id(u) in reached:
            return
        reached.add(id(u))
        work.append(u)

    for u in units:
        if u.kind == "file":
            reached.add(id(u))
    for u in roots:
        reach(u)
    while work:
        u = work.pop()
        if u.kind in ("class", "object", "trait"):
            for c in u.children:
                implicit = ("override" in c.mods or "implicit" in c.mods or
                            c.name in IMPLICIT_NAMES or
                            (u.kind == "object" and c.kind == "val") or
                            ("case" in u.mods and c.kind != "def"))
                if implicit or c.name in named:
                    reach(c)
        names = names_in(u)
        used |= names - {u.name}
        for name in names - named:
            named.add(name)
            for c in by_name.get(name, ()):
                if id(c.owner) in reached or c.owner.kind in ("class", "trait"):
                    reach(c)

    def code_count(u):
        text = texts[u.path][0]
        spans = [sp for m in walk(u) for sp in m.spans]
        a = min(s for s, _ in spans)
        b = max(e for _, e in spans)
        first = text.rfind("\n", 0, a) + 1
        return code_lines(text[first:b])

    def unused(u):
        if u.kind == "val":    # an object's vals run without being named
            return u.name not in used
        return id(u) not in reached

    dead, kept, inside_dead = [], [], set()
    for u in units:
        if id(u) in inside_dead:
            continue
        if (u.kind == "file" or not unused(u) or
                u.mods & {"private", "protected", "override", "implicit"} or
                not u.path.startswith("src/main/") or not u.spans):
            continue
        inside_dead.update(id(m) for m in walk(u))
        row = (code_count(u), u.qual(), f"{u.path}:{u.line}")
        (kept if row[1] in EXCEPTIONS else dead).append(row)
    for n, q, where in dead:
        print(f"{n:6d}  {q}  {where}")
    for n, q, where in kept:
        print(f"{n:6d}  {q}  {where}  (kept: {EXCEPTIONS[q]})")
    print(f"{sum(r[0] for r in dead):6d}  total unreached, "
          f"{len(dead)} members ({len(kept)} kept exceptions)")


if __name__ == "__main__":
    main(sys.argv[1:])
