#!/usr/bin/env python3
"""List the oracles whose SQL differs between two Verify dumps.

Usage: python3 tools/oracle_diff.py OLD/oracle_sql.json NEW/oracle_sql.json

Prints one line per oracle: `changed NAME`, `added NAME` or
`removed NAME`, then a summary count. Verify writes each dump's aria
input directory (`<outDir>_oracle_inputs`) into the aria oracles, so that
path is normalized before comparing: two dumps of the same code made
into different directories show no change.
"""
import json
import re
import sys

ARIA_DIR = re.compile(r"[^'\s]*_oracle_inputs")


def load(path):
    with open(path) as f:
        return {k: ARIA_DIR.sub('__ARIA_DIR__', v) for k, v in json.load(f).items()}


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    added = sorted(new.keys() - old.keys())
    removed = sorted(old.keys() - new.keys())
    for kind, names in (('changed', changed), ('added', added), ('removed', removed)):
        for name in names:
            print(f'{kind} {name}')
    print(f'{len(changed)} changed, {len(added)} added, {len(removed)} removed '
          f'of {len(old)} -> {len(new)} oracles')


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1], sys.argv[2])
