#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <cdc|queries> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Each run works in
perfbench/work/<workload>, prints a provenance line, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
provenance line includes the share of CPU time the host gave to other guests
during the run (cpu_steal_pct): on a shared machine the lag figures follow it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, 'src', 'main', 'scala')
BUILD = os.path.join(HERE, 'target', 'bench')
WORKLOADS = ('cdc', 'queries')
JVM_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']
HEAP = {'cdc': '2g', 'queries': '3g'}
RUN_TIMEOUT_S = 150  # leaves room for the oracle check within 180 s


def die(msg):
    print(f'[perfbench] {msg}', file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, 'src', 'main', 'resources'),
             os.path.join(HERE, 'src', 'main')]
    files = [os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, 'digest')
    cp_file = os.path.join(BUILD, 'classpath')
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    env = dict(os.environ)
    env['COURSIER_MODE'] = 'offline'
    env['SBT_OPTS'] = (env.get('SBT_OPTS', '') + ' -Dsbt.offline=true -Dsbt.server.forcestart=false').strip()
    p = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile',
                        'export Runtime/fullClasspath'],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die('build failed')
    lines = [l for l in p.stdout.splitlines() if '.jar' in l and not l.startswith('[')]
    if not lines:
        die('build printed no classpath')
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, 'w') as f:
        f.write(lines[-1].strip())
    with open(stamp, 'w') as f:
        f.write(digest)
    return lines[-1].strip(), digest


def cpu_ticks():
    """The machine's CPU time counters, or None where /proc/stat is absent."""
    try:
        with open('/proc/stat') as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings, in percent. On a shared host the lag figures rise with it."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


def git_head():
    try:
        return subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or 'none'
    except OSError:
        return 'none'


def run_java(main, args, cp, work, heap, log_name):
    """Run a benchmark main in its own process group; return its last stdout line."""
    cmd = (['java'] + [a for p in JVM_OPENS for a in ('--add-opens', f'{p}=ALL-UNNAMED')] +
           [f'-Xmx{heap}', f'-Djava.io.tmpdir={os.path.join(work, "tmp")}',
            '-Dspark.ui.enabled=false', '-cp', cp, main] + args)
    env = dict(os.environ, TMPDIR=os.path.join(work, 'tmp'))
    with open(os.path.join(work, log_name), 'w') as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ''
            print(f'[perfbench] {main} timed out after {RUN_TIMEOUT_S} s', file=sys.stderr)
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # the main and any JVM it launched
            except ProcessLookupError:
                pass
            p.wait()
    lines = [l for l in out.splitlines() if l.startswith('{')]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(''.join(f.readlines()[-40:]))
        die(f'{main} failed (exit {p.returncode}); logs in {work}')
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=int)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, 'graft')):
        die(f'no engine sources under {ENGINE_SRC}: run from a checkout of the repository')
    if shutil.which('sbt') is None or shutil.which('java') is None:
        die('sbt and java must be on PATH')
    cp, digest = build()
    work = os.path.join(HERE, 'work', a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, 'tmp'))
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
    ticks = cpu_ticks()
    if a.workload == 'queries':
        import tables
        import oracle
        data = os.path.join(work, 'data')
        tables.generate(data, a.seed)
        res = run_java('perfbench.QueryBench', args + [data], cp, work, HEAP[a.workload], 'queries.log')
        bad = oracle.check(data, os.path.join(work, 'out'))
        res['failed'] += len(bad)
        res['correct'] = res['correct'] and not bad
        if a.trace:
            res['metrics']['failed_frac'] = {'value': res['failed'] / res['attempted'], 'unit': 'fraction'}
        for name, why in bad:
            print(f'[perfbench] oracle mismatch {name}: {why}', file=sys.stderr)
    else:
        res = run_java('perfbench.CdcRun', args, cp, work, HEAP[a.workload], 'harness.log')
    steal = steal_pct(ticks, cpu_ticks())
    nproc = len(os.sched_getaffinity(0))
    stamp = {'workload': a.workload, 'seed': a.seed, 'seconds': a.seconds, 'trace': a.trace,
             'git_head': git_head(), 'source_digest': digest, 'nproc': nproc,
             'spark_master': f'local[{nproc}]', 'jvm_heap': HEAP[a.workload],
             'cpu_steal_pct': steal}
    with open(os.path.join(work, 'result.json'), 'w') as f:
        json.dump({'provenance': stamp, 'result': res}, f, indent=1)
    shutil.rmtree(os.path.join(work, 'pipeline'), ignore_errors=True)
    shutil.rmtree(os.path.join(work, 'data'), ignore_errors=True)
    print('provenance ' + json.dumps(stamp, sort_keys=True))
    print(json.dumps(res))


if __name__ == '__main__':
    sys.path.insert(0, HERE)
    main()
