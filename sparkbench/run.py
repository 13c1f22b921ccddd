#!/usr/bin/env python3
"""Benchmark entry point for the graft Spark engine.

    python3 sparkbench/run.py --workload aria_ycsb --seed 1 --seconds 20 --trace 0

Builds the engine and the JVM harness from source (once per source
state, with sbt), launches one JVM per run from the exported classpath,
checks the outputs, and prints the metrics. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run. See sparkbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / '.bench_build'
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

from benchlib import ledger, metrics, oracle  # noqa: E402

WORKLOADS = ('aria_ycsb', 'graph_ann_iterative')
SF_DIR = str(Path.home() / 'testdata' / 'sf0.01')
HEAP = '3g'
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
ADD_OPENS = [
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']


def fail(msg):
    print(f'[sparkbench] {msg}', file=sys.stderr)
    sys.exit(2)


def source_files():
    files = [ROOT / 'build.sbt', ROOT / 'project' / 'build.properties',
             BENCH / 'jvm' / 'build.sbt', BENCH / 'jvm' / 'project' / 'build.properties']
    for d in (ROOT / 'src' / 'main', BENCH / 'jvm' / 'src'):
        files += sorted(p for p in d.rglob('*') if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compile once per source state; later runs reuse the classpath."""
    cp_file, stamp_file = WORK / 'classpath.txt', WORK / 'stamp'
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    for f in (cp_file, stamp_file):
        f.unlink(missing_ok=True)
    tmp = WORK / 'tmp'
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ['-Xmx2g', '-Dsbt.offline=true', '-Dsbt.log.noformat=true',
            f'-Djava.io.tmpdir={tmp}']
    repos = Path.home() / '.sbt' / 'repositories'
    if repos.exists():
        opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
    env = dict(os.environ, COURSIER_MODE='offline', SBT_OPTS=' '.join(opts))
    with open(WORK / 'build.log', 'w') as log:
        rc = run_process(['sbt', '-batch', 'writeClasspath'], BENCH / 'jvm', env, log,
                         BUILD_LIMIT_S)
    if rc != 0:
        fail(f'build failed (exit {rc}); see {WORK / "build.log"}')
    cp = (BENCH / 'jvm' / 'target' / 'classpath.txt').read_text().strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, True


def run_process(cmd, cwd, env, log, limit_s):
    """Run in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 'timeout'
    finally:
        try:  # nothing the run started may outlive it
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot, from /proc/stat."""
    try:
        with open('/proc/stat') as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def calibrate():
    """A fixed single-thread loop: how fast this host runs right now."""
    t = time.perf_counter()
    x = 1
    for _ in range(1_500_000):
        x = (x * 1103515245 + 12345) & 0x7fffffff
    return time.perf_counter() - t


def git_head():
    try:
        return subprocess.run(['git', '-C', str(ROOT), 'rev-parse', 'HEAD'],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def unit_key(unit):
    return f"{unit['segment']}/{unit['pass']}/{unit['index']}"


def check_queries(record):
    """Marks each query unit checked iff its output matches the oracle;
    returns the verdicts that are not a match."""
    recorded = oracle.load_recorded(BENCH / 'expected' / f"{record['workload']}.json", SF_DIR)
    outputs = {unit_key(u): (u['name'], u['output']) for u in record['units'] if u.get('ok')}
    verdicts = oracle.compare(SF_DIR, outputs, record['check']['oracle_sql'], recorded)
    for u in record['units']:
        u['checked'] = unit_key(u) in verdicts and verdicts[unit_key(u)] is None
    return {k: v for k, v in verdicts.items() if v is not None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not (ROOT / 'src' / 'main' / 'scala').is_dir() or not (ROOT / 'build.sbt').exists():
        fail(f'engine sources not found under {ROOT}')
    if not Path(SF_DIR).is_dir():
        fail(f'test data {SF_DIR} not found')
    if shutil.which('java') is None or shutil.which('sbt') is None:
        fail('java and sbt are required')

    WORK.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp, built = build(stamp)
    out = WORK / 'runs' / f'{args.workload}-seed{args.seed}-trace{args.trace}'
    shutil.rmtree(out, ignore_errors=True)
    (out / 'tmp').mkdir(parents=True)

    load1 = os.getloadavg()[0]
    ticks_before = cpu_ticks()
    calib_before = calibrate()
    cores = len(os.sched_getaffinity(0))
    cmd = ['java'] + [a for p in ADD_OPENS for a in ('--add-opens', f'java.base/{p}=ALL-UNNAMED')]
    cmd += [f'-Xmx{HEAP}', f'-Djava.io.tmpdir={out / "tmp"}', '-cp', cp,
            'graftbench.Harness', '--workload', args.workload, '--seed', str(args.seed),
            '--seconds', str(args.seconds), '--trace', str(args.trace),
            '--out', str(out), '--sf', SF_DIR, '--cores', str(cores)]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started) - 10
    cmd += ['--launch-ms', repr(time.time() * 1000)]
    with open(out / 'jvm.log', 'w') as log:
        rc = run_process(cmd, ROOT, dict(os.environ), log, limit)
    if rc != 0 or not (out / 'record.json').exists():
        fail(f'harness exit {rc}; see {out / "jvm.log"}')
    steal = metrics.steal_share(ticks_before, cpu_ticks())
    calib_after = calibrate()
    record = json.loads((out / 'record.json').read_text())

    # aria units come back checked by the harness's serial replay
    mismatches = check_queries(record) if args.workload == 'graph_ann_iterative' else {}
    units = record['units']
    failed = [u for u in units if not (u.get('ok') and u.get('checked'))]
    for u in failed:
        print(f"[sparkbench] wrong or failed unit {unit_key(u)}: {u.get('name')} "
              f"{u.get('error') or mismatches.get(unit_key(u), 'wrong output')}", file=sys.stderr)

    calib = (calib_before + calib_after) / 2
    stamp_fields = dict(record['stamp'], git_head=git_head(), source_sha256=stamp,
                        nproc=cores, workload=args.workload, seed=args.seed,
                        load1=load1, host_calib_s=calib, host_steal_share=steal,
                        sf=SF_DIR)
    # with no unit that ran there is nothing to measure: metrics stay empty
    values, info, units_ = None, {}, {}
    if args.trace and any(u.get('ok') for u in units):
        values, spans = ledger.per_layer(record)
        values['host.calib_s'] = calib
        values['host.load1'] = load1
        units_ = dict.fromkeys(values, 's')
        units_.update(ledger.UNITS)
        (out / 'trace.json').write_text(json.dumps({'stamp': stamp_fields, 'spans': spans}))
    elif not args.trace:
        values, info = metrics.end_to_end(record)
        units_ = metrics.END_TO_END_UNITS
    attempted = len(units)
    result = {'stamp': stamp_fields, 'attempted': attempted, 'failed': len(failed),
              'fail_frac': metrics.fail_frac(attempted, len(failed)),
              'metrics': values, 'not_gated': info,
              'setup': record['setup'], 'mismatches': mismatches}
    (out / 'result.json').write_text(json.dumps(result, indent=1))
    for sub in ('spark-local', 'tmp', 'warehouse', 'out'):
        shutil.rmtree(out / sub, ignore_errors=True)

    for k, v in (values or {}).items():
        print(f'{k} = {v:.6g} {units_[k]}')
    for k, v in info.items():
        print(f'{k} = {v:.6g}  (not gated)')
    print(f'fail_frac = {result["fail_frac"]:.6g} ({len(failed)} of {attempted} units)')
    print(json.dumps({'record': stamp_fields}))
    print(json.dumps({
        'correct': values is not None and not failed and attempted > 0,
        'attempted': attempted, 'failed': len(failed),
        'metrics': {k: {'value': v, 'unit': units_[k]} for k, v in (values or {}).items()}}))


if __name__ == '__main__':
    main()
