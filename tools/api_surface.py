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
    """Yield (owner, name, line) for every public def in one file."""
    toks = []
    line = 1
    for m in TOKEN.finditer(strip_comments_and_strings(open(path).read())):
        t = m.group(0)
        toks.append((t, line))
        if t == "\n":
            line += 1
    # scope stack: (is_template, is_public, name); the file itself is a
    # public template (package level)
    stack = [(True, True, None)]
    pending = None  # (is_public, name) of a template header awaiting '{'
    private = override = False
    parens = 0
    for i, (t, ln) in enumerate(toks):
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
            name = next((x for x, _ in toks[i + 1:] if x != "\n"), "?")
            pending = (not private, name)
            private = override = False
        elif t == "def":
            templ = all(s[0] for s in stack)
            pub = all(s[1] for s in stack)
            name = next((x for x, _ in toks[i + 1:] if x != "\n"), "?")
            if templ and pub and not private and not override:
                owner = ".".join(s[2] for s in stack if s[2])
                yield owner, name.strip("`"), ln
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
            prev = next((x for x, _ in reversed(toks[:i]) if x != "\n"), "")
            nxt = next((x for x, _ in toks[i + 1:] if x != "\n"), "")
            if prev not in ("extends", "with", ",") and nxt not in ("extends", "with", "{"):
                pending = None


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
            declared = Counter(name for _, name, _ in defs)
            for owner, name, ln in defs:
                if bench[name] or any(words[g][name] for g in main_files if g != f):
                    continue
                own = words[f][name] - declared[name]
                unref[pkg].append((f"{owner}.{name}", os.path.relpath(f, root), ln, own, specs[name]))

    total_u = sum(len(v) for v in unref.values())
    print(f"{'package':<18}{'public defs':>12}{'unreferenced':>14}")
    for pkg in counts:
        print(f"{pkg:<18}{counts[pkg]:>12}{len(unref[pkg]):>14}")
    print(f"{'total':<18}{sum(counts.values()):>12}{total_u:>14}")
    print()
    print("Public defs that SparkEntry, other src/main files and perfbench/src never name")
    print("(own = further uses in the defining file, specs = uses under src/test):")
    for pkg in counts:
        for name, path, ln, own, sp in unref[pkg]:
            print(f"  {name:<48} {path}:{ln}  own={own} specs={sp}")
    print()
    print("Caveat: this matches names, not a call graph. A common name used by an")
    print("unrelated symbol hides a dead def, and an overload shares its name with")
    print("the live one; confirm every entry by compiling before deleting it.")


if __name__ == "__main__":
    main()
