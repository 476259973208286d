#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-scale run of every workload, untraced
and traced, whose last output line must parse and carry every metric that
BENCHMARK.json names, with its unit, and no failed operation.

Run from the checkout root: python3 tickbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
         '--seed', '7', '--seconds', '1', '--trace', str(trace), '--tiny'],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        s = spec()
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, err[-2000:])
        self.assertEqual(set(out), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertTrue(out['correct'])
        self.assertGreaterEqual(out['attempted'], 1)
        self.assertEqual(out['failed'], 0)
        wanted = s['per_layer'] if trace else s['end_to_end']
        self.assertEqual(set(out['metrics']), {m['name'] for m in wanted})
        for m in wanted:
            got = out['metrics'][m['name']]
            self.assertEqual(got['unit'], m['unit'], m['name'])
            self.assertIsInstance(got['value'], float, m['name'])
        if not trace:
            for m in wanted:
                self.assertGreater(out['metrics'][m['name']]['value'], 0, m['name'])

    def test_layer_map_matches_spec(self):
        with open(os.path.join(HERE, 'layers.json')) as f:
            layers = json.load(f)['per_layer']
        self.assertEqual([{k: m[k] for k in ('name', 'unit', 'better')} for m in layers],
                         spec()['per_layer'])
        self.assertTrue(all(m['moves'] for m in layers))

    def test_workloads(self):
        for w in spec()['workloads']:
            for trace in (0, 1):
                with self.subTest(workload=w['name'], trace=trace):
                    self.check(w['name'], trace)

    def test_refuses_without_program(self):
        import tempfile
        import shutil
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, '.bench_build')) as d:
            shutil.copytree(HERE, os.path.join(d, 'tickbench'))
            shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), d)
            p = subprocess.run(
                [sys.executable, 'tickbench/run.py', '--workload', 'tick_fixture',
                 '--seed', '1', '--seconds', '1', '--trace', '0'],
                cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), '')


if __name__ == '__main__':
    unittest.main()
