#!/usr/bin/env python3
"""List the public `def`s of `src/main` that nothing outside `src/test`
refers to, with the specs that call them: candidates to move into their
specs, or to delete when no spec calls them either. Advisory only; it gates
nothing and always exits 0.

A def is a public member of a class, trait or object body (not `private`,
`protected`, `override`, nor a local def inside a method). A reference is
the def's name as a whole word on a code line of `src/main` (other than the
def's own line), `perfbench/` or `tools/`; comment lines do not count, string
literals do (native kernels are called by method name through
`StaticInvoke`). Names are matched without their owner, so a name that is
also used elsewhere hides the def: the list errs towards too short.

Usage: python3 tools/dead_defs.py [repo_root]   (default: the current dir)
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else '.'
MAIN = os.path.join(ROOT, 'src', 'main')
TEST = os.path.join(ROOT, 'src', 'test')
OTHER = [os.path.join(ROOT, 'perfbench'), os.path.join(ROOT, 'tools')]
CODE_EXT = ('.scala', '.py', '.java', '.sh')

TEMPLATE = re.compile(r'\b(object|class|trait)\s+\w+')
DEF = re.compile(r'^\s*((?:final\s+|implicit\s+|inline\s+)*)def\s+'
                 r'([A-Za-z_]\w*)')
WORD = re.compile(r'[A-Za-z_]\w*')
HIDDEN = re.compile(r'\b(private|protected|override)\b')


def files_under(d):
    for root, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if x not in ('data', 'results', 'target',
                                                '.bench_build', '__pycache__')]
        for n in sorted(names):
            if n.endswith(CODE_EXT):
                yield os.path.join(root, n)


def code_lines(path):
    """(line number, text) of each line with its comments removed; lines
    that are wholly comment come back empty. Block comments and triple-quoted
    strings may span lines."""
    out = []
    in_block = False
    in_triple = False
    py = path.endswith(('.py', '.sh'))
    with open(path, encoding='utf-8') as f:
        for no, line in enumerate(f.read().splitlines(), 1):
            text, i = [], 0
            while i < len(line):
                if in_block:
                    j = line.find('*/', i)
                    if j < 0:
                        i = len(line)
                    else:
                        in_block, i = False, j + 2
                elif in_triple:
                    j = line.find('"""', i)
                    end = len(line) if j < 0 else j + 3
                    text.append(line[i:end])
                    in_triple, i = j < 0, end
                elif line.startswith('"""', i):
                    text.append('"""')
                    in_triple, i = True, i + 3
                elif line[i] == '"':
                    j = i + 1
                    while j < len(line) and line[j] != '"':
                        j += 2 if line[j] == '\\' else 1
                    text.append(line[i:j + 1])
                    i = j + 1
                elif py and line[i] == '#':
                    break
                elif not py and line.startswith('//', i):
                    break
                elif not py and line.startswith('/*', i):
                    in_block, i = True, i + 2
                else:
                    text.append(line[i])
                    i += 1
            out.append((no, ''.join(text)))
    return out


def without_strings(text):
    return re.sub(r'"(?:\\.|[^"\\])*"|\'(?:\\.|[^\'\\])\'', '""', text)


def public_defs(path):
    """(name, line number, owner) of each public member def in a Scala file,
    found by tracking brace depth: a def is a member when it sits directly
    in a class, trait or object body."""
    defs = []
    bodies = []          # brace depths at which a template body is open
    depth = 0
    pending = None       # a template header whose `{` has not come yet
    triple = False
    for no, text in code_lines(path):
        if triple or '"""' in text:
            # multi-line SQL and the like: count no braces inside it
            parts = text.split('"""')
            kept = parts[0::2] if not triple else parts[1::2]
            if len(parts) % 2 == 0:
                triple = not triple
            text = ''.join(kept)
        text = without_strings(text)
        m = DEF.match(text)
        if m and bodies and bodies[-1][0] == depth and not HIDDEN.search(
                text[:m.start(2)]):
            defs.append((m.group(2), no, bodies[-1][1]))
        t = TEMPLATE.search(text)
        if t and not HIDDEN.search(text[:t.start()]):
            pending = t.group(0).split()[-1]
        elif t:
            pending = None
        for ch in text:
            if ch == '{':
                depth += 1
                if pending is not None:
                    bodies.append((depth, pending))
                    pending = None
            elif ch == '}':
                if bodies and bodies[-1][0] == depth:
                    bodies.pop()
                depth -= 1
    return defs


def main():
    lines_with = {}      # word -> number of code lines that hold it
    for path in list(files_under(MAIN)) + [p for d in OTHER
                                           for p in files_under(d)]:
        if os.path.abspath(path) == os.path.abspath(__file__):
            continue
        for _, t in code_lines(path):
            for w in set(WORD.findall(t)):
                lines_with[w] = lines_with.get(w, 0) + 1
    specs = [(os.path.splitext(os.path.basename(p))[0],
              {w for _, t in code_lines(p) for w in WORD.findall(t)})
             for p in files_under(TEST)]

    rows = []
    for path in files_under(MAIN):
        if not path.endswith('.scala'):
            continue
        for name, no, owner in public_defs(path):
            # the def's own line holds its name once
            if lines_with.get(name, 0) > 1:
                continue
            users = sorted(spec for spec, words in specs if name in words)
            rows.append((os.path.relpath(path, ROOT), no, owner, name, users))

    for path, no, owner, name, users in rows:
        print('%s.%s  (%s:%d)  %s' % (owner, name, path, no,
                                       ', '.join(users) or 'no caller'))
    print('%d public def(s) with no reference outside src/test' % len(rows))


if __name__ == '__main__':
    main()
