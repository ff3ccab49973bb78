#!/usr/bin/env python3
"""Count the lines of `src/main`, twice: in total, and without the frozen
`SparkEntry.oracleSql` map (DuckDB oracle SQL that no program change may
touch). "Main LoC goes down" is read from the second number, so a change is
credited only for the program it shrinks.

Usage: python3 tools/main_loc.py [repo_root]   (default: the current dir)
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else '.'
MAIN = os.path.join(ROOT, 'src', 'main')
ENTRY = os.path.join(MAIN, 'scala', 'graft', 'SparkEntry.scala')

# a member of the SparkEntry object starts at two spaces of indent
MEMBER = re.compile(r'^  (/\*\*|def |private |val |lazy |override )')


def lines_of(path):
    with open(path, encoding='utf-8') as f:
        return f.read().splitlines()


def oracle_sql_lines(lines):
    """Lines from `def oracleSql` to the last non-blank line before the next
    member of the object."""
    start = next(i for i, l in enumerate(lines)
                 if l.startswith('  def oracleSql:'))
    end = next((i for i in range(start + 1, len(lines))
                if MEMBER.match(lines[i])), len(lines))
    while not lines[end - 1].strip():
        end -= 1
    return end - start


total = 0
for d, _, files in os.walk(MAIN):
    for f in files:
        total += len(lines_of(os.path.join(d, f)))
oracle = oracle_sql_lines(lines_of(ENTRY))
print(f'src/main total:              {total}')
print(f'src/main without oracleSql:  {total - oracle}  (oracleSql map: {oracle})')
