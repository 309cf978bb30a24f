#!/usr/bin/env python3
"""Diff the SQL two runs sent to Derby, as multisets of statement texts.

    python3 tools/derby_statements.py A/derby.log B/derby.log

Each log must come from a JVM started with
-Dderby.language.logStatementText=true, which makes Derby log every
statement it executes ("Executing prepared statement: <text> :End prepared
statement ..."). The statement texts of each log are counted, and every
text whose count differs is printed as

    <count in A> -> <count in B>  <text>

sorted by text. Empty output means the two runs issued the same SQL, each
statement as many times. Only the text is compared: parameter values, the
session, transaction and thread ids and the timestamps are not. Other lines
in the files (a log shared with stderr, say) are ignored. Exit code 0 when
the multisets are equal, 1 when they differ, 2 on bad usage.
"""
import collections
import re
import sys

STATEMENT = re.compile(r"Executing prepared statement: (.*?) :End prepared statement", re.S)


def statements(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return collections.Counter(m.group(1) for m in STATEMENT.finditer(f.read()))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = statements(argv[1]), statements(argv[2])
    diff = sorted(t for t in a.keys() | b.keys() if a[t] != b[t])
    for t in diff:
        print(f"{a[t]} -> {b[t]}  {t}")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
