#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

Usage:
  python3 tickbench/run.py --workload W --seed N --seconds S --trace 0|1 [--tiny]

Run from the checkout root. Builds the program and the harness (build.py),
runs the workload in one JVM (local[nproc], one client), checks every
operation's output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones; the traced run
also writes its spans to <build dir>/tickbench/traces/. Exits non-zero,
printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ['tick_fixture', 'corpus_queries']
END_TO_END = {
    'setup_s': 's', 'pass_s': 's', 'rows_per_s': 'rows/s', 'peak_rss_mb': 'MiB',
}
JVM_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
    'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar',
]
RUN_TIMEOUT_S = 170


def per_layer_names():
    """Per-layer metric names and units, from the layer map in layers.json."""
    with open(os.path.join(HERE, 'layers.json')) as f:
        return {m['name']: m['unit'] for m in json.load(f)['per_layer']}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=int, default=40)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--tiny', action='store_true',
                    help='self-test scale: a few rows, a few operations')
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    try:
        cp = build.ensure(root)
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f'build failed: {e}', file=sys.stderr)
        sys.exit(2)
    # set-up is timed from here: the one-off build is not part of it
    t0 = time.time()

    out_dir = os.path.join(build.build_dir(root), 'tickbench')
    work = os.path.join(out_dir, 'work', f'{a.workload}-{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    for d in ('tmp', 'spark-local', 'warehouse'):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(out_dir, 'traces'), exist_ok=True)
    result = os.path.join(work, 'result.json')
    trace_out = os.path.join(out_dir, 'traces', f'{a.workload}-{a.seed}.json')
    # a fixed heap makes the peak resident size repeatable; no perf data
    # file outside the checkout
    cmd = ['java', '-Xms2g', '-Xmx2g', '-XX:-UsePerfData']
    for p in JVM_OPENS:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    cmd += [
        '-Dspark.ui.enabled=false',
        f'-Djava.io.tmpdir={work}/tmp',
        f'-Dspark.local.dir={work}/spark-local',
        f'-Dspark.sql.warehouse.dir={work}/warehouse',
        f'-Dderby.system.home={work}/tmp',
        '-cp', cp, 'tickbench.Main',
        '--workload', a.workload, '--seed', str(a.seed),
        '--seconds', str(a.seconds), '--trace', str(a.trace),
        '--work', work, '--out', result, '--t0-ms', str(int(t0 * 1000)),
        '--data', os.path.join(HERE, 'data'),
        '--oracle', os.path.join(HERE, 'oracle.py'),
        '--trace-out', trace_out,
    ]
    if a.tiny:
        cmd += ['--tiny', '1']
    log = os.path.join(out_dir, 'last-run.log')
    with open(log, 'w') as lf:
        # own process group: a timeout also stops the oracle the JVM starts
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f'run timed out after {RUN_TIMEOUT_S} s; log: {log}',
                  file=sys.stderr)
            sys.exit(3)
    if proc.returncode != 0 or not os.path.exists(result):
        print(f'run failed (exit {proc.returncode}); log: {log}', file=sys.stderr)
        sys.exit(3)
    with open(result) as f:
        r = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    wanted = per_layer_names() if a.trace else END_TO_END
    got = r['metrics']
    metrics = {}
    for name, unit in wanted.items():
        v = got.get(name, {}).get('value')
        # a layer the workload never calls reports 0
        metrics[name] = {'value': float(v) if v is not None else 0.0,
                         'unit': unit}
    missing = [n for n in END_TO_END if n not in got] if not a.trace else []
    for note in r['notes']:
        print(f'failure: {note}', file=sys.stderr)
    print(json.dumps({'workload': a.workload, 'seed': a.seed,
                      'noise': r['noise'],
                      'detail': {k: v for k, v in r.items() if k not in (
                          'metrics', 'notes', 'noise', 'attempted', 'failed')}}))
    print(json.dumps({
        'correct': r['failed'] == 0 and not missing,
        'attempted': r['attempted'],
        'failed': r['failed'],
        'metrics': metrics,
    }))
    if r['failed'] or missing:
        sys.exit(1)


if __name__ == '__main__':
    main()
