#!/usr/bin/env python3
"""Compare two PLANS files (e.g. a fresh `graft.PlanDump` run against the
committed PLANS.md) modulo the ids Spark renumbers on every run.

    python3 scripts/plans_diff.py OLD NEW

Expression ids (`count#24`, `sum#45L`) become `#N` (a type suffix such as
`L` stays) and `plan_id=7` becomes `plan_id=N` before the compare.
Prints a unified diff of whatever still differs. Exit status: 0 when the
files are identical modulo ids, 1 when they differ, 2 on bad usage.
"""
import difflib
import re
import sys

EXPR_ID = re.compile(r'#\d+')
PLAN_ID = re.compile(r'plan_id=\d+')


def normalized(path):
    with open(path, encoding='utf-8') as f:
        return [PLAN_ID.sub('plan_id=N', EXPR_ID.sub('#N', line)) for line in f]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old, new = argv[1], argv[2]
    diff = list(difflib.unified_diff(normalized(old), normalized(new),
                                     fromfile=old, tofile=new))
    sys.stdout.writelines(diff)
    if diff:
        changed = sum(1 for d in diff
                      if d[:1] in '+-' and d[:3] not in ('+++', '---'))
        print(f'plans_diff: {changed} lines differ modulo ids')
        return 1
    print('plans_diff: identical modulo expression ids and plan_id')
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
