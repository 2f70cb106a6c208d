"""List the public src/main definitions that no production code reaches.

A definition is a member of an object, class or trait body, or a top-level
object, class or trait, that is neither `private`, `override` nor
`implicit`. It is *reached* when a name token outside its own definition
names it, on a path that starts at a root:

  - every line of `perfbench/src` (the benchmark compiles against src/main);
  - every name in the allow-list (`tools/unreached_defs.allow`).

A reference made inside the body of a definition counts only once that
definition is itself reached, so code that only a dead definition calls is
listed with it. Comments and string literals are stripped first (the
expressions inside `${...}` and `$name` of interpolated strings are kept).
Matching is by name, not by type: two definitions with the same name are
reached together.

The allow-list holds one name per line followed by a one-line reason
(`name  reason`); `#` starts a comment line. The script prints every
unreached name with its definition sites and exits 1 when one is not in
the allow-list, or when an allow-list entry is stale (its name is defined
nowhere, or is reached without its entry).

Usage: python3 tools/unreached_defs.py [repo-root]
"""
import os
import re
import sys

IDENT = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*|`[^`\n]+`")
OPCHARS = set("!#%&*+-/:<=>?@\\^|~")
MEMBER_KW = {"def", "val", "var", "object", "class", "trait", "type"}
TEMPLATE_KW = {"object", "class", "trait"}
MODIFIERS = {"private", "protected", "override", "implicit", "final", "sealed",
             "abstract", "lazy", "case", "inline"}
HIDDEN = {"private", "override", "implicit"}


def strip(src):
    """Blank out comments and string/char literals, keeping line breaks and
    the code inside interpolated strings."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            i = _string(src, i, interp, out)
        elif c == "'" and _char_literal_len(src, i):
            out.append(" ")
            i += _char_literal_len(src, i)
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _char_literal_len(src, i):
    """Length of the char literal at i ('x', '\\n', '\\u0041'), or 0."""
    m = re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:i + 8])
    return m.end() if m else 0


def _string(src, i, interp, out):
    triple = src.startswith('"""', i)
    i += 3 if triple else 1
    out.append(" ")
    n = len(src)
    while i < n:
        if triple and src.startswith('"""', i):
            i += 3
            while i < n and src[i] == '"':
                i += 1
            return i
        c = src[i]
        if not triple and c == '"':
            return i + 1
        if not triple and c == "\\":
            i += 2
            continue
        if interp and c == "$":
            if src.startswith("$$", i):
                i += 2
                continue
            if src.startswith("${", i):
                depth, j = 1, i + 2
                while j < n and depth:
                    depth += {"{": 1, "}": -1}.get(src[j], 0)
                    j += 1
                out.append(" " + strip(src[i + 2:j - 1]) + " ")
                i = j
                continue
            m = IDENT.match(src, i + 1)
            if m:
                out.append(" " + m.group(0) + " ")
                i = m.end()
                continue
        if c == "\n":
            out.append("\n")
        i += 1
    return i


def tokens(code):
    """(kind, text, offset) for identifiers, operators and single-char
    punctuation; newlines are kept as their own token."""
    toks, i, n = [], 0, len(code)
    while i < n:
        c = code[i]
        if c == "\n":
            toks.append(("nl", c, i))
            i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            m = re.match(r"[0-9][0-9A-Za-z_.]*", code[i:])
            i += m.end()
        elif c.isalpha() or c in "_$`":
            m = IDENT.match(code, i)
            if not m:
                i += 1
                continue
            toks.append(("id", m.group(0).strip("`"), i))
            i = m.end()
        elif c in OPCHARS:
            j = i
            while j < n and code[j] in OPCHARS:
                j += 1
            toks.append(("op", code[i:j], i))
            i = j
        else:
            toks.append(("p", c, i))
            i += 1
    return toks


class Def:
    def __init__(self, kw, name, path, line, listable, parent):
        self.kw, self.name, self.path, self.line = kw, name, path, line
        self.listable, self.parent = listable, parent
        self.refs = set()      # (qualifier or None, name) its own body mentions
        self.locals = set()    # parameter and local names bound in its body
        self.hidden_kids = []  # override/implicit members: reached with it
        self.supers = set()    # names after `extends`/`with` in a template header


def scan(path, rel, defs, roots):
    """Record the definitions of one file and the names each one's body
    mentions. Names mentioned outside every definition go to `roots`, but
    only for benchmark files (`defs` is None)."""
    code = strip(open(path, encoding="utf-8").read())
    toks = tokens(code)
    line_at = lambda off: code.count("\n", 0, off) + 1
    # brace frames: [is_template, paren_depth, owner Def, current member Def]
    frames = [[True, 0, None, None]]
    mods, pending_template, in_extends, k = set(), None, False, 0
    while k < len(toks):
        kind, text, off = toks[k]
        top = frames[-1]
        at_member_level = top[0] and top[1] == 0
        if kind == "p" and text in "([":
            top[1] += 1
        elif kind == "p" and text in ")]":
            top[1] = max(0, top[1] - 1)
        elif kind == "p" and text == "{":
            is_template = pending_template is not None and top[1] == 0
            owner = pending_template if is_template else (top[3] or top[2])
            frames.append([is_template, 0, owner, None])
            pending_template = None
            mods = set()
        elif kind == "p" and text == "}":
            if len(frames) > 1:
                frames.pop()
            mods = set()
        elif (kind == "id" and text in ("import", "package") and (top[3] or top[2]) is None
              and toks[k + 1][1] != "object"):
            # a file-level import names what a later line uses; it is not a use
            depth = 0
            while k + 1 < len(toks) and not (toks[k + 1][0] == "nl" and depth == 0):
                k += 1
                depth += {"{": 1, "}": -1}.get(toks[k][1], 0) if toks[k][0] == "p" else 0
        elif kind == "id" and at_member_level and text in MODIFIERS:
            mods.add(text)
        elif kind == "id" and at_member_level and text in MEMBER_KW:
            name_tok = toks[k + 1] if k + 1 < len(toks) else None
            if name_tok and name_tok[0] in ("id", "op") and name_tok[1] not in MEMBER_KW:
                parent = top[2]
                hidden = bool(mods & HIDDEN)
                d = Def(text, name_tok[1], rel, line_at(name_tok[2]), not hidden, parent)
                if defs is not None:
                    defs.append(d)
                    if hidden and parent is not None and "private" not in mods:
                        parent.hidden_kids.append(d)
                top[3] = d
                k += 1  # the defining name is not a reference
            pending_template = top[3] if text in TEMPLATE_KW else None
            in_extends = False
            mods = set()
        elif kind == "nl":
            if pending_template is not None and top[1] == 0:
                nxt = next((t for t in toks[k + 1:] if t[0] != "nl"), None)
                if nxt is None or nxt[1] not in ("extends", "with", "{"):
                    pending_template = None
        elif kind in ("id", "op"):
            if pending_template is not None:
                in_extends = in_extends or text == "extends"
                if in_extends and kind == "id":
                    pending_template.supers.add(text)
            qual = toks[k - 2][1] if k >= 2 and toks[k - 1][1] == "." and toks[k - 2][0] == "id" else None
            owner = top[3] or top[2]
            if defs is None or owner is None:
                roots.add((qual, text))
            else:
                owner.refs.add((qual, text))
                nxt = toks[k + 1][1] if k + 1 < len(toks) else ""
                prev = toks[k - 1][1] if k >= 1 else ""
                if kind == "id" and qual is None and (
                        nxt in (":", "=>", "<-") or prev in ("val", "var", "def", "case")):
                    owner.locals.add(text)
        k += 1


def analyse(root):
    defs, roots = [], set()
    for base, sink in (("src/main", defs), ("perfbench/src", None)):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    scan(p, os.path.relpath(p, root), sink, roots)
    return defs, roots


def reached(defs, roots, allowed):
    """The definitions reachable from the roots and the allowed names.
    `Q.name`, where Q defines `name`, reaches only that member; a bare
    `name` reaches the member of that name in the nearest enclosing
    template that has one; any other reference reaches every definition of
    that name. A reached member of an object reaches the object; a reached
    member of a class or trait reaches the members of that name in its
    subclasses (dynamic dispatch)."""
    by_name, members, subs = {}, {}, {}
    for d in defs:
        by_name.setdefault(d.name, []).append(d)
        if d.parent is not None:
            members.setdefault((id(d.parent), d.name), []).append(d)
        for sup in d.supers:
            subs.setdefault(sup, []).append(d)

    def overriders(d):
        out, todo, done = [], [d.parent], set()
        while todo:
            t = todo.pop()
            for s in subs.get(t.name, []):
                if id(s) not in done:
                    done.add(id(s))
                    out.extend(members.get((id(s), d.name), []))
                    todo.append(s)
        return out

    def resolve(qual, name, scope=None):
        ds = by_name.get(name, [])
        if qual is not None:
            exact = [d for d in ds if d.parent is not None and d.parent.name == qual]
            return exact or ds
        while scope is not None:
            if (id(scope), name) in members:
                return members[(id(scope), name)]
            scope = scope.parent
        return ds

    seen = set()
    work = [d for q, n in roots for d in resolve(q, n)]
    work += [d for n in allowed for d in by_name.get(n, [])]
    while work:
        d = work.pop()
        if id(d) in seen:
            continue
        seen.add(id(d))
        for q, n in d.refs:
            if q is None and n in d.locals:
                continue  # a parameter or local shadows the member
            work.extend(resolve(q, n, d))
        work.extend(d.hidden_kids)
        if d.parent is not None and d.parent.kw == "object":
            work.append(d.parent)
        elif d.parent is not None:
            work.extend(overriders(d))
    return seen


def load_allow(path):
    allow = {}
    if os.path.exists(path):
        for raw in open(path, encoding="utf-8"):
            line = raw.strip()
            if line and not line.startswith("#"):
                name, _, reason = line.partition(" ")
                allow[name] = reason.strip()
    return allow


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allow = load_allow(os.path.join(root, "tools", "unreached_defs.allow"))
    defs, roots = analyse(root)
    live = reached(defs, roots, set(allow))
    sites = {}
    for d in defs:
        if d.listable and id(d) not in live:
            sites.setdefault(d.name, []).append(f"{d.path}:{d.line}")
    bad = 0
    for name in sorted(sites):
        print(f"UNREACHED {name}  {' '.join(sites[name])}")
        bad += 1
    defined = {d.name for d in defs if d.listable}
    for name in sorted(allow):
        if name not in defined:
            print(f"STALE {name}  (allow-listed but defined nowhere)")
            bad += 1
        else:
            without = reached(defs, roots, set(allow) - {name})
            if all(id(d) in without for d in defs if d.name == name and d.listable):
                print(f"STALE {name}  (allow-listed but reached without it)")
                bad += 1
    for name in sorted(n for n in allow if n in defined):
        print(f"allowed {name}  {allow[name]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
