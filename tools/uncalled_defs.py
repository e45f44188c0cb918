#!/usr/bin/env python3
"""List the `def`s under src/main that nothing calls.

A def counts as called when its name appears as a whole word in the code
of src/main or perfbench/src anywhere other than its own `def` site.
Comments (`//` line comments and `/* */` block comments, which nest in
Scala) and the text of string literals are blanked first, so a name that
only a scaladoc, a `//` note or a message string mentions is reported as
uncalled. The code inside an interpolated literal is kept: `$name` and
`${f(x)}` in `s"..."` are real uses.

The scan matches names, not symbols, so it errs towards "called":
- two defs sharing a name are both called if either name is used;
- a recursive def's call to itself counts as a caller.

Not reported:
- `override` defs, which the runtime or a parent type calls;
- `main` entry points;
- the defs in ENTRY_POINTS, which code outside the code base calls by
  name (`SparkEntry.entry`, the flagship query of the `SparkEntry`
  contract);
- `apply`, which counts as called when its enclosing object's name is
  followed by `(`, `[` or `.apply`.

Each uncalled def gets a verdict: `test-reference` when the code of a
src/test file calls it (by the same name match), `dead` otherwise.

Usage: python3 tools/uncalled_defs.py [repo_root]
Prints one `path:line  Owner.name  verdict` per uncalled def, then the
counts.
"""
import os
import re
import sys
from collections import Counter

SCAN_DIRS = ["src/main", "perfbench/src"]
DEF_DIR = "src/main"
TEST_DIR = "src/test"
# (owner, name) of defs called from outside the code base: callers of
# the SparkEntry contract load graft.SparkEntry and call `entry` on it.
ENTRY_POINTS = {("SparkEntry", "entry")}

DEF_RE = re.compile(
    r"\bdef\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*|[!#%&*+\-/:<=>?@\\^|~]+)")
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
CHAR_RE = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def blank(text):
    return re.sub(r"[^\n]", " ", text)


def literal_code(src, i, triple, interpolated):
    """Blank the string literal whose body starts at `i`, keeping the code
    of its `$name` and `${...}` interpolations when `interpolated` (with
    the `$` itself blanked). Returns (text, index past the literal)."""
    quote = '"""' if triple else '"'
    out, n = [], len(src)
    while i < n:
        if src.startswith(quote, i):
            j = i + len(quote)
            while triple and j < n and src[j] == '"':  # """...""""" closes at the last quote
                j += 1
            return "".join(out) + blank(src[i:j]), j
        if not triple and src[i] == "\n":  # unterminated: ends at the line
            return "".join(out), i
        if not triple and src[i] == "\\":
            out.append(blank(src[i:i + 2]))
            i += 2
        elif interpolated and src.startswith("$$", i):
            out.append("  ")
            i += 2
        elif interpolated and src.startswith("${", i):
            depth, j = 1, i + 2
            while j < n and depth:
                depth += {"{": 1, "}": -1}.get(src[j], 0)
                j += 1
            out.append(" " + src[i + 1:j])
            i = j
        elif interpolated and src[i] == "$" and IDENT_RE.match(src, i + 1):
            j = IDENT_RE.match(src, i + 1).end()
            out.append(" " + src[i + 1:j])
            i = j
        else:
            out.append(blank(src[i]))
            i += 1
    return "".join(out), n


def strip_comments(src):
    """Blank out comments and string-literal text, keeping newlines (so
    line numbers hold), character literals and the code of
    interpolations."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src[i] == '"':
            triple = src.startswith('"""', i)
            start = i + (3 if triple else 1)
            # an identifier glued to the quote is an interpolator (s, f, raw)
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            text, j = literal_code(src, start, triple, interpolated)
            out.append(" " * (start - i) + text)
            i = j
        elif src[i] == "'":
            m = CHAR_RE.match(src, i)
            j = m.end() if m else i + 1
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
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
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root, rel):
    for dirpath, _, names in os.walk(os.path.join(root, rel)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(dirpath, name)


def indent_of(line):
    return len(line) - len(line.lstrip(" \t"))


def owner_at(lines, lineno):
    """The innermost object/class/trait enclosing line `lineno` (0-based),
    found by indentation."""
    ind = indent_of(lines[lineno])
    for k in range(lineno - 1, -1, -1):
        m = OWNER_RE.search(lines[k])
        if m and indent_of(lines[k]) < ind:
            return m.group(1)
    return ""


def read_code(root, rel):
    code = {}
    for path in scala_files(root, rel):
        with open(path, encoding="utf-8") as f:
            code[path] = strip_comments(f.read())
    return code


def called_in(corpus, words, def_sites, owner, name):
    """Whether `corpus` calls `owner.name`: more uses of the name than
    def sites of it (an `apply`: the owner's name followed by a call)."""
    if name == "apply":
        return re.search(
            r"\b%s\s*(?:\(|\[|\.apply\b)" % re.escape(owner), corpus) is not None
    uses = words[name] if re.match(r"\w", name) else corpus.count(name)
    return uses > def_sites[name]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    code = {}
    for rel in SCAN_DIRS:
        code.update(read_code(root, rel))
    corpus = "\n".join(code.values())
    tests = "\n".join(read_code(root, TEST_DIR).values())

    defs = []  # (path, line, owner, name)
    for path, text in code.items():
        if not os.path.relpath(path, root).startswith(DEF_DIR + os.sep):
            continue
        lines = text.split("\n")
        for m in DEF_RE.finditer(text):
            lineno = text.count("\n", 0, m.start())
            head = text[text.rfind("\n", 0, m.start()) + 1:m.start()]
            name = m.group(1).strip("`")
            if "override" in head.split():
                continue
            if name == "main" and "Array[String]" in text[m.end():m.end() + 60]:
                continue
            owner = owner_at(lines, lineno)
            if (owner, name) in ENTRY_POINTS:
                continue
            defs.append((path, lineno + 1, owner, name))

    # every def site in the scanned code, perfbench's included
    def_sites = Counter(m.group(1).strip("`") for m in DEF_RE.finditer(corpus))
    words = Counter(re.findall(r"[A-Za-z_$][\w$]*", corpus))
    test_def_sites = Counter(
        m.group(1).strip("`") for m in DEF_RE.finditer(tests))
    test_words = Counter(re.findall(r"[A-Za-z_$][\w$]*", tests))

    uncalled = []
    for path, line, owner, name in defs:
        if called_in(corpus, words, def_sites, owner, name):
            continue
        verdict = ("test-reference"
                   if called_in(tests, test_words, test_def_sites, owner, name)
                   else "dead")
        uncalled.append(("%s:%d  %s.%s" % (
            os.path.relpath(path, root), line, owner or "?", name), verdict))

    for entry, verdict in sorted(uncalled):
        print("%s  %s" % (entry, verdict))
    n_test = sum(1 for _, v in uncalled if v == "test-reference")
    print("%d uncalled of %d defs scanned: %d test-reference, %d dead" % (
        len(uncalled), len(defs), n_test, len(uncalled) - n_test))


if __name__ == "__main__":
    main()
