#!/usr/bin/env python3
"""Diff two lane-timing logs: the JSON lines Bench, Prof lanes and Prof
sweep print per lane (bench_query/sec/peak_heap_mb; older sweep logs
used soak_query).

Usage: compare_sweeps.py <baseline.log> <tuned.log> [topN]

Prints per-query ratios for queries present in BOTH logs (sorted by
improvement), plus totals over the common subset.
"""
import json
import sys


def load(path):
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith('{'):
                continue
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            name = d.get('bench_query', d.get('soak_query'))
            if name is not None and d.get('sec', -1) >= 0:
                out[name] = (d['sec'], d.get('peak_heap_mb', 0))
    return out


def main():
    base, tuned = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    common = sorted(set(base) & set(tuned))
    if not common:
        print('no common queries')
        return
    rows = []
    for q in common:
        b, t = base[q], tuned[q]
        rows.append((t[0] / b[0] if b[0] > 0 else float('inf'), q,
                     b[0], t[0], b[1], t[1]))
    rows.sort()
    print(f'{"query":<28} {"base_s":>8} {"tuned_s":>8} {"ratio":>6} '
          f'{"base_heap":>9} {"tuned_heap":>10}')
    for r in rows[:top_n]:
        print(f'{r[1]:<28} {r[2]:>8.2f} {r[3]:>8.2f} {r[0]:>6.2f} '
              f'{r[4]:>8}M {r[5]:>9}M')
    if len(rows) > top_n:
        print(f'... ({len(rows) - top_n} more)')
    tb = sum(r[2] for r in rows)
    tt = sum(r[3] for r in rows)
    print(f'\ncommon queries: {len(rows)}; total base {tb:.1f}s, '
          f'tuned {tt:.1f}s, ratio {tt / tb:.3f}')


if __name__ == '__main__':
    main()
