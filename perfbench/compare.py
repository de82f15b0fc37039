#!/usr/bin/env python3
"""Compare two benchmark results, refusing mixed provenance.

    python3 perfbench/compare.py <before/result.json> <after/result.json>

Each run writes perfbench/work/<workload>/result.json: its provenance stamp
(workload, seed, trace, git head, source digest, nproc, Spark master, JVM
heap, CPU steal) and its result. Two results compare only when workload, trace mode,
nproc, Spark master and JVM heap agree: numbers from an 8-core and a
32-core run, or from different heaps, are not one population. Prints each
metric's before, after and after/before."""
import json
import sys

MUST_MATCH = ('workload', 'trace', 'nproc', 'spark_master', 'jvm_heap')


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    pa, pb = a['provenance'], b['provenance']
    mixed = [k for k in MUST_MATCH if pa.get(k) != pb.get(k)]
    if mixed:
        sys.exit('refusing to compare mixed provenance: ' +
                 ', '.join(f'{k} {pa.get(k)!r} vs {pb.get(k)!r}' for k in mixed))
    for k in ('git_head', 'source_digest', 'seed', 'cpu_steal_pct'):
        print(f'{k}: {pa.get(k)} -> {pb.get(k)}')
    ma, mb = a['result']['metrics'], b['result']['metrics']
    for name in sorted(set(ma) | set(mb)):
        va, vb = ma.get(name, {}).get('value'), mb.get(name, {}).get('value')
        ratio = f'{vb / va:.3f}' if va and vb is not None else '-'
        unit = (ma.get(name) or mb.get(name))['unit']
        print(f'{name:34s} {va!s:>14} {vb!s:>14} {ratio:>7} {unit}')
    for side, r in (('before', a), ('after', b)):
        res = r['result']
        print(f"{side}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")


if __name__ == '__main__':
    main()
