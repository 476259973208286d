#!/usr/bin/env python3
"""Builds the program and the benchmark harness with scalac.

Usage: build.py [checkout_root]

Compiles the program's src/main/scala and this directory's src/ in one
scalac pass against the Spark jars, which also ship the Scala 2.13
compiler: $SPARK_HOME/jars, else the jars of the spark-submit on PATH,
else those of the installed pyspark package. Output goes to
$CARGO_TARGET_DIR (default .bench_build) under the checkout root, and is
reused while no source file changes. Prints the run classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    homes = [os.environ.get('SPARK_HOME')]
    if shutil.which('spark-submit'):
        homes.append(os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which('spark-submit')))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, 'jars')
        if glob.glob(os.path.join(jars, 'scala-compiler-*.jar')):
            return jars
    raise FileNotFoundError('no Spark jars with a Scala compiler found')


def build_dir(root):
    d = os.environ.get('CARGO_TARGET_DIR', '.bench_build')
    return os.path.join(root, d)


def sources(root):
    prog = os.path.join(root, 'src', 'main', 'scala')
    if not os.path.isdir(prog):
        raise FileNotFoundError(f'program sources not found under {prog}')
    files = sorted(glob.glob(os.path.join(prog, '**', '*.scala'), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, 'src', '**', '*.scala'), recursive=True))
    return files


def ensure(root):
    """Compiles if any source changed; returns the run classpath."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(root), 'tickbench')
    classes = os.path.join(out, 'classes')
    stamp = os.path.join(out, 'stamp')
    jars = os.path.join(spark_jars(), '*')
    cp = f'{classes}:{jars}'
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    subprocess.run(['rm', '-rf', classes], check=True)
    os.makedirs(classes)
    tmp = os.path.join(out, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(['java', '-Xmx2g', f'-Djava.io.tmpdir={tmp}', '-cp', jars,
                    'scala.tools.nsc.Main', '-nowarn', '-d', classes,
                    '-classpath', jars] + files,
                   check=True, stdout=sys.stderr)
    with open(stamp, 'w') as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == '__main__':
    print(ensure(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                 else os.path.dirname(HERE))))
