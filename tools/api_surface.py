#!/usr/bin/env python3
"""Count the public API surface from source and list the entry points
that nothing outside their own definition names.

A public entry point is a `def` declared directly in the body of an
object, class or trait (not inside a method or block), where neither the
def nor any enclosing template is `private`/`protected` (qualified
`private[x]` included), and the def is not an `override` (those implement
an interface the caller does not choose). Packages scanned: graft.api,
graft.core, graft.sources, graft.sql, graft.streaming and graft.functions.

A public def is "unreferenced" when its name, as a whole word in code
(comments and string literals do not count), appears in none of:
SparkEntry.scala (the gated query table), any other src/main/scala file,
or perfbench/src. Each unreferenced def also shows how often its own file
and the specs name it (own-file uses suggest narrowing to private,
spec-only uses suggest deleting with the spec).

An option is a defaulted parameter of a public def, except `*Col` column
names and the parameters of defs that perfbench/src names. Per package the
scan counts the options and lists those that no call in SparkEntry.scala,
another src/main/scala file or perfbench/src sets, marking each own-file
(a call in the def's own file sets it, as a replay passing its window on
to the operator does), spec-only (only a spec sets it) or unset. A call
sets a parameter when it passes an argument at the parameter's position
or under its name.

Usage: python3 tools/api_surface.py [repo_root]
"""
import os
import re
import sys
from collections import Counter, defaultdict

PACKAGES = ["api", "core", "sources", "sql", "streaming"]
TEMPLATE_KW = {"object", "class", "trait"}
TOKEN = re.compile(r"`[^`\n]+`|[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]]|\n|[^\sA-Za-z0-9_{}()\[\]`]+")


def splice_end(src, j):
    """Index just past the `}` closing an interpolated `${...}` opened before j."""
    depth = 1
    while j < len(src) and depth:
        if src[j] == '"':
            j = src.find('"', j + 1)
            j = len(src) if j < 0 else j
        elif src[j] == "{":
            depth += 1
        elif src[j] == "}":
            depth -= 1
        j += 1
    return j


def strip_comments_and_strings(src):
    """Blank out comments and string/char literals, keeping newlines."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(blank(src[i:j]))
            i = j
        elif src[i] == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            j = i + 1
            while j < n and src[j] not in '"\n':
                if interp and src.startswith("${", j):
                    j = splice_end(src, j + 2)
                else:
                    j += 2 if src[j] == "\\" else 1
            out.append(blank(src[i:j + 1]))
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:]):
            m = re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:])
            out.append(blank(m.group(0)))
            i += len(m.group(0))
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def public_defs(path):
    """Yield (owner, name, line, end) for every public def in one file, where
    end is the offset just past the def's name in the file's code."""
    toks = []
    line = 1
    for m in TOKEN.finditer(strip_comments_and_strings(open(path).read())):
        t = m.group(0)
        toks.append((t, line, m.end()))
        if t == "\n":
            line += 1
    # scope stack: (is_template, is_public, name); the file itself is a
    # public template (package level)
    stack = [(True, True, None)]
    pending = None  # (is_public, name) of a template header awaiting '{'
    private = override = False
    parens = 0
    for i, (t, ln, _) in enumerate(toks):
        if t in ("(", "["):
            parens += 1
        elif t in (")", "]"):
            parens -= 1
        elif parens:
            continue
        elif t in ("private", "protected"):
            private = True
        elif t == "override":
            override = True
        elif t in TEMPLATE_KW:
            name = next((x for x, _, _ in toks[i + 1:] if x != "\n"), "?")
            pending = (not private, name)
            private = override = False
        elif t == "def":
            templ = all(s[0] for s in stack)
            pub = all(s[1] for s in stack)
            name, end = next(((x, e) for x, _, e in toks[i + 1:] if x != "\n"), ("?", 0))
            if templ and pub and not private and not override:
                owner = ".".join(s[2] for s in stack if s[2])
                yield owner, name.strip("`"), ln, end
            pending = None
            private = override = False
        elif t in ("val", "var", "type", "import", "package"):
            pending = None
            private = override = False
        elif t == "{":
            if pending:
                stack.append((True, pending[0], pending[1]))
            else:
                stack.append((False, True, None))
            pending = None
            private = override = False
        elif t == "}":
            if len(stack) > 1:
                stack.pop()
            pending = None
            private = override = False
        elif t == "\n" and pending:
            prev = next((x for x, _, _ in reversed(toks[:i]) if x != "\n"), "")
            nxt = next((x for x, _, _ in toks[i + 1:] if x != "\n"), "")
            if prev not in ("extends", "with", ",") and nxt not in ("extends", "with", "{"):
                pending = None

OPEN, CLOSE = "([{", ")]}"
PARAM = re.compile(r"\s*(?:implicit\s+)?(?:val\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*:(.*)", re.S)
DEFAULT = re.compile(r"(?<![=<>!:])=(?![=>])")
NAMED_ARG = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])")


def skip_ws(code, i):
    while i < len(code) and code[i].isspace():
        i += 1
    return i


def group_end(code, i):
    """Index just past the bracket that closes the one opened at code[i]."""
    depth = 0
    while i < len(code):
        if code[i] in OPEN:
            depth += 1
        elif code[i] in CLOSE:
            depth -= 1
            if not depth:
                return i + 1
        i += 1
    return i


def split_top(body):
    """Split a bracket group's body at its top-level commas (a blanked
    string literal stays a part, so positions hold)."""
    parts, depth, start = [], 0, 0
    for j, c in enumerate(body):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "," and not depth:
            parts.append(body[start:j])
            start = j + 1
    parts.append(body[start:])
    return parts if body.strip() else []


def paren_groups(code, i):
    """The bodies of the `(...)` groups that follow offset i, after an
    optional `[...]` type-argument group."""
    i = skip_ws(code, i)
    if i < len(code) and code[i] == "[":
        i = skip_ws(code, group_end(code, i))
    groups = []
    while i < len(code) and code[i] == "(":
        j = group_end(code, i)
        groups.append(code[i + 1:j - 1])
        i = skip_ws(code, j)
    return groups


def param_lists(code, end):
    """Per parameter list of the def whose name ends at `end`: the list of
    (name, has_default) pairs."""
    lists = []
    for body in paren_groups(code, end):
        ps = []
        for part in split_top(body):
            m = PARAM.match(part)
            if m:
                ps.append((m.group(1), bool(DEFAULT.search(m.group(2)))))
        lists.append(ps)
    return lists


def set_params(code, name, lists):
    """The parameters of `lists` that some call of `name` in `code` passes,
    matched by position and by name within each parameter list."""
    got = set()
    for m in re.finditer(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])", code):
        if re.search(r"\bdef\s*$", code[:m.start()][-20:]):
            continue
        for k, body in enumerate(paren_groups(code, m.end())[:len(lists)]):
            for pos, arg in enumerate(split_top(body)):
                named = NAMED_ARG.match(arg)
                if named:
                    got.add((k, named.group(1)))
                elif pos < len(lists[k]):
                    got.add((k, lists[k][pos][0]))
    return got


def scala_files(d):
    for dp, _, fs in os.walk(d):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(dp, f)


def word_counts(path):
    """Identifier counts of one file's code (comments and strings blanked)."""
    code = strip_comments_and_strings(open(path).read())
    return Counter(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", code))


def words_under(d):
    total = Counter()
    for f in scala_files(d):
        total.update(word_counts(f))
    return total


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    graft = os.path.join(root, "src/main/scala/graft")
    scanned = {f"graft.{p}": list(scala_files(os.path.join(graft, p))) for p in PACKAGES}
    scanned["graft.functions"] = [os.path.join(graft, "functions.scala")]

    main_files = list(scala_files(os.path.join(root, "src/main/scala")))
    words = {f: word_counts(f) for f in main_files}  # SparkEntry.scala is one of them
    bench = words_under(os.path.join(root, "perfbench/src"))
    specs = words_under(os.path.join(root, "src/test/scala"))

    counts, unref = {}, defaultdict(list)
    for pkg, files in scanned.items():
        counts[pkg] = 0
        for f in files:
            defs = list(public_defs(f))
            counts[pkg] += len(defs)
            declared = Counter(d[1] for d in defs)
            for owner, name, ln, _ in defs:
                if bench[name] or any(words[g][name] for g in main_files if g != f):
                    continue
                own = words[f][name] - declared[name]
                unref[pkg].append((f"{owner}.{name}", os.path.relpath(f, root), ln, own, specs[name]))

    main_code = {f: strip_comments_and_strings(open(f).read()) for f in main_files}
    spec_code = [strip_comments_and_strings(open(f).read())
                 for f in scala_files(os.path.join(root, "src/test/scala"))]
    bench_code = [strip_comments_and_strings(open(f).read())
                  for f in scala_files(os.path.join(root, "perfbench/src"))]
    opts, cands = Counter(), defaultdict(list)
    for pkg, files in scanned.items():
        for f in files:
            for owner, name, ln, end in public_defs(f):
                if bench[name]:
                    continue
                lists = param_lists(main_code[f], end)
                defaulted = [(k, p) for k, ps in enumerate(lists) for p, d in ps
                             if d and not p.endswith("Col")]
                if not defaulted:
                    continue
                opts[pkg] += len(defaulted)
                live = set()
                for code in [c for g, c in main_code.items() if g != f] + bench_code:
                    live |= set_params(code, name, lists)
                own = set_params(main_code[f], name, lists)
                spec = set()
                for code in spec_code:
                    spec |= set_params(code, name, lists)
                for k, p in defaulted:
                    if (k, p) not in live:
                        mark = ("own-file" if (k, p) in own else
                                "spec-only" if (k, p) in spec else "unset")
                        cands[pkg].append((f"{owner}.{name}({p})", os.path.relpath(f, root), ln, mark))

    total_u = sum(len(v) for v in unref.values())
    print(f"{'package':<18}{'public defs':>12}{'unreferenced':>14}{'options':>10}{'listed':>8}")
    for pkg in counts:
        print(f"{pkg:<18}{counts[pkg]:>12}{len(unref[pkg]):>14}{opts[pkg]:>10}{len(cands[pkg]):>8}")
    print(f"{'total':<18}{sum(counts.values()):>12}{total_u:>14}"
          f"{sum(opts.values()):>10}{sum(len(v) for v in cands.values()):>8}")
    print()
    print("Public defs that SparkEntry, other src/main files and perfbench/src never name")
    print("(own = further uses in the defining file, specs = uses under src/test):")
    for pkg in counts:
        for name, path, ln, own, sp in unref[pkg]:
            print(f"  {name:<48} {path}:{ln}  own={own} specs={sp}")
    print()
    print("Options: defaulted parameters of public defs, less `*Col` names and the")
    print("defs perfbench/src names. Listed: the options that no call in SparkEntry,")
    print("another src/main file or perfbench/src sets (own-file = a call in the def's")
    print("own file sets it, spec-only = only a spec sets it, unset = nothing sets it):")
    for pkg in counts:
        for name, path, ln, mark in cands[pkg]:
            print(f"  {name:<56} {path}:{ln}  {mark}")
    print()
    print("Caveat: this matches names, not a call graph. A common name used by an")
    print("unrelated symbol hides a dead def, and an overload shares its name with")
    print("the live one; confirm every entry by compiling before deleting it.")
    print("Options are matched the same way: a call's arguments are mapped to a")
    print("def's parameters by position and by name, for every def of that name.")


if __name__ == "__main__":
    main()
