"""List the default parameters of public src/main definitions that no call
site sets.

A definition is a `def` or a `class` (its primary constructor, which holds
a case class's fields) declared in an object, class or trait body, or at
the top level, that is neither `private`, `protected` nor `override`. A
default parameter of it is *set* when some call site in `src/main`,
`src/test` or `perfbench/src` passes it:

  - by position: the call's matching argument list holds more arguments
    than the parameter's index;
  - by name: an argument `param = ...` in the call, or in any `copy(...)`
    call (the copy of a case class sets its fields by name).

An argument that is only the name of a defaulted parameter of the
enclosing public src/main definition forwards that parameter: it sets the
callee's parameter only when the enclosing one is set itself. Calls are matched by
name; `Q.name(...)`, where Q is an object, class or trait that defines
`name`, matches only that definition. Comments and string literals are
stripped first, as tools/unreached_defs.py does.

A parameter that no call sets holds one value, so it is a constant in
disguise. The allow-list (`tools/unset_defaults.allow`) holds one
`Owner.def.param` per line followed by a one-line reason; `#` starts a
comment line. The script prints every unset default with its definition
site and exits 1 when one is not allow-listed, or when an allow-list entry
is stale (it names no unset default).

Usage: python3 tools/unset_defaults.py [repo-root]
"""
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from unreached_defs import MODIFIERS, TEMPLATE_KW, load_allow, strip, tokens  # noqa: E402

DEF_KW = {"def", "class"}
NAMING_KW = TEMPLATE_KW | DEF_KW | {"val", "var", "type"}
HIDDEN = {"private", "protected", "override"}
PARAM_MODS = {"implicit", "val", "var", "private", "protected", "override", "final", "lazy"}
OPEN, CLOSE = {"(": ")", "[": "]", "{": "}"}, {")", "]", "}"}


class Def:
    def __init__(self, kw, owner, name, path, line, lists):
        self.kw, self.owner, self.name, self.path, self.line = kw, owner, name, path, line
        self.lists = lists  # per parameter list: [(param name, has default)]

    def key(self, param):
        return f"{self.owner}.{self.name}.{param}" if self.owner else f"{self.name}.{param}"


def group(code, toks, k):
    """(segments, end): the comma-separated top-level segments of the
    bracket group opening at toks[k], and the index after its close. A
    segment that holds only a number literal (which `tokens` drops) is
    kept as one ("lit", text) token."""
    segs, cur, depth, start, k = [], [], 0, toks[k][2] + 1, k + 1

    def close(off):
        if not cur and code[start:off].strip():
            cur.append(("lit", code[start:off].strip()))
        segs.append(list(cur))
        cur.clear()

    while k < len(toks):
        kind, text, off = toks[k]
        if kind == "p" and text in OPEN:
            depth += 1
        elif kind == "p" and text in CLOSE:
            if depth == 0:
                close(off)
                break
            depth -= 1
        if kind == "p" and text == "," and depth == 0:
            close(off)
            start = off + 1
        elif kind != "nl":
            cur.append((kind, text))
        k += 1
    if segs == [[]]:
        segs = []
    return segs, k + 1


def arg_lists(code, toks, k, opens="({"):
    """The argument lists following the name at toks[k - 1]: a leading
    `[...]` type-argument group is skipped, then every directly following
    group that opens with one of `opens` is one list (a `{...}` block is
    one argument)."""
    if k < len(toks) and toks[k][1] == "[":
        _, k = group(code, toks, k)
    lists = []
    while k < len(toks) and toks[k][0] == "p" and toks[k][1] in opens:
        segs, k = group(code, toks, k)
        lists.append(segs if toks[k - 1][1] == ")" or not segs else [sum(segs, [])])
    return lists


def params(segs):
    out = []
    for seg in segs:
        words = [t for t in seg if not (t[0] == "id" and t[1] in PARAM_MODS)]
        if words and words[0][0] == "id":
            depth, default = 0, False
            for kind, text in seg:
                if kind == "p" and text in OPEN:
                    depth += 1
                elif kind == "p" and text in CLOSE:
                    depth -= 1
                elif kind == "op" and text == "=" and depth == 0:
                    default = True
            out.append((words[0][1], default))
    return out


def scan(path, rel, defs, calls):
    """Record the public definitions of one file (when `defs` is a list)
    and every call of a name in `calls`' keys."""
    code = strip(open(path, encoding="utf-8").read())
    toks = tokens(code)
    line_at = lambda off: code.count("\n", 0, off) + 1
    # brace frames: [is_template, paren_depth, template name, current member Def or None]
    frames = [[True, 0, None, None]]
    mods, pending, k = set(), None, 0
    while k < len(toks):
        kind, text, off = toks[k]
        top = frames[-1]
        at_member_level = top[0] and top[1] == 0
        if kind == "p" and text in "([":
            top[1] += 1
        elif kind == "p" and text in ")]":
            top[1] = max(0, top[1] - 1)
        elif kind == "p" and text == "{":
            is_template = pending is not None and top[1] == 0
            frames.append([is_template, 0, pending if is_template else top[2],
                           None if is_template else top[3]])
            pending, mods = None, set()
        elif kind == "p" and text == "}":
            if len(frames) > 1:
                frames.pop()
            mods = set()
        elif kind == "id" and text in MODIFIERS and at_member_level:
            mods.add(text)
        elif kind == "id" and text in NAMING_KW:
            name_tok = toks[k + 1] if k + 1 < len(toks) else None
            if name_tok and name_tok[0] in ("id", "op"):
                if text in TEMPLATE_KW:
                    pending = name_tok[1]
                if text in DEF_KW and at_member_level:
                    lists = [params(segs) for segs in arg_lists(code, toks, k + 2, "(")]
                    d = Def(text, top[2], name_tok[1], rel, line_at(name_tok[2]), lists)
                    top[3] = d if not mods & HIDDEN else None
                    if defs is not None and not mods & HIDDEN and any(
                            dflt for ps in lists for _, dflt in ps):
                        defs.append(d)
                k += 1  # the defining name is not a call
            mods = set()
        elif kind == "nl":
            if pending is not None and top[1] == 0:
                nxt = next((t for t in toks[k + 1:] if t[0] != "nl"), None)
                if nxt is None or nxt[1] not in ("extends", "with", "{"):
                    pending = None
        elif kind == "id" and text in calls:
            qual = toks[k - 2][1] if k >= 2 and toks[k - 1][1] == "." and toks[k - 2][0] == "id" else None
            lists = arg_lists(code, toks, k + 1)
            if lists:
                calls[text].append((qual, lists, top[3]))
        k += 1


def analyse(root):
    defs = []
    for d, _, files in sorted(os.walk(os.path.join(root, "src/main"))):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                scan(p, os.path.relpath(p, root), defs, {})
    calls = {d.name: [] for d in defs}
    calls["copy"] = []
    for base in ("src/main", "src/test", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    scan(p, os.path.relpath(p, root), None, calls)
    return defs, calls


def passed(args, i, p):
    """The argument that a call's list `args` passes for parameter `p` at
    index `i`, or None. Positional arguments come before named ones."""
    named = {a[0][1]: a[2:] for a in args if len(a) > 1 and a[0][0] == "id" and a[1] == ("op", "=")}
    positional = [a for a in args if not (len(a) > 1 and a[0][0] == "id" and a[1] == ("op", "="))]
    return positional[i] if i < len(positional) else named.get(p)


def unset(defs, calls):
    """The (Def, param) pairs with a default that no call sets."""
    owners = {d.owner for d in defs}
    keys = {d.key(p) for d in defs for ps in d.lists for p, dflt in ps if dflt}
    copied = {a[0][1] for _, lists, _ in calls["copy"] for args in lists for a in args
              if len(a) > 1 and a[1] == ("op", "=")}
    is_set, forwards = set(), []  # forwards: (callee param, enclosing param)
    for d in defs:
        for qual, lists, encl in calls[d.name]:
            if qual is not None and qual in owners and qual != d.owner:
                continue
            for ps, args in zip(d.lists, lists):
                for i, (p, dflt) in enumerate(ps):
                    arg = passed(args, i, p) if dflt else None
                    if arg is None:
                        continue
                    if encl is not None and len(arg) == 1 and encl.key(arg[0][1]) in keys:
                        forwards.append((d.key(p), encl.key(arg[0][1])))
                    else:
                        is_set.add(d.key(p))
        if d.kw == "class":
            is_set.update(d.key(p) for ps in d.lists for p, _ in ps if p in copied)
    grown = True
    while grown:
        grown = False
        for callee, encl in forwards:
            if encl in is_set and callee not in is_set:
                is_set.add(callee)
                grown = True
    return [(d, p) for d in defs for ps in d.lists for p, dflt in ps
            if dflt and d.key(p) not in is_set]


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allow = load_allow(os.path.join(root, "tools", "unset_defaults.allow"))
    defs, calls = analyse(root)
    found = {}
    for d, p in unset(defs, calls):
        found.setdefault(d.key(p), []).append(f"{d.path}:{d.line}")
    bad = 0
    for key in sorted(found):
        if key not in allow:
            print(f"UNSET {key}  {' '.join(found[key])}")
            bad += 1
    for key in sorted(allow):
        if key not in found:
            print(f"STALE {key}  (allow-listed but set by a call, or defined nowhere)")
            bad += 1
    for key in sorted(k for k in allow if k in found):
        print(f"allowed {key}  {allow[key]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
