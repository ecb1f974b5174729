#!/usr/bin/env python3
"""Benchmark entry point for graft: builds the engine and the harness from source,
runs one workload in a fresh JVM, checks its outputs and prints the result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_rpc_increments and query_mix (perfbench/README.md).
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Everything the run builds or writes stays under .bench_build/ in the
repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
WORKLOADS = ('ingest_rpc_increments', 'query_mix')
QUERY_SCALE = '0.01'
# a run must end within 180 s: the harness JVM, then the oracle check
JVM_TIMEOUT_S = 155
CHECK_TIMEOUT_S = 20
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
             'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
             'java.base/java.nio', 'java.base/java.util', 'java.base/java.util.concurrent',
             'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
             'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project', 'build.properties'),
             os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for top in (os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src', 'main')):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, 'rb') as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt, once per source state; returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, 'classpath.stamp')
    cp_file = os.path.join(BUILD, 'classpath.txt')
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE='offline')
    if 'SBT_OPTS' not in env:
        repos = os.path.expanduser('~/.sbt/repositories')
        env['SBT_OPTS'] = ' '.join(
            ['-Dsbt.override.build.repos=true', '-Dsbt.offline=true', '-Xmx3g']
            + ([f'-Dsbt.repository.config={repos}'] if os.path.exists(repos) else []))
    proc = subprocess.run(
        ['sbt', '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.forcestart=false',
         'export perfbench/runtime:fullClasspath'],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail('build failed')
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, 'w') as f:
        f.write(lines[-1].strip())
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return lines[-1].strip()


def query_data():
    """Generated query tables, once per generator version."""
    gen = os.path.join(HERE, 'gendata.py')
    with open(gen, 'rb') as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f'data-{QUERY_SCALE}-{tag}')
    if not os.path.exists(os.path.join(out, 'done')):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, QUERY_SCALE], check=True)
        open(os.path.join(out, 'done'), 'w').close()
    return out


def run_jvm(cp, args, work, data):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp)
    cmd = ['java'] + [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')] + [
        '-Xmx4g', f'-Djava.io.tmpdir={tmp}', '-cp', cp, 'perfbench.Main',
        '--workload', args.workload, '--seed', str(args.seed),
        '--seconds', str(args.seconds), '--trace', str(args.trace),
        '--work', work, '--cores', str(cores), '--data', data or '-']
    log = os.path.join(work, 'jvm.log')
    with open(log, 'w') as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f'harness timed out; log in {log}')
    result = os.path.join(work, 'result.json')
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f'harness exited with {rc}')
    with open(result) as f:
        return json.load(f)


def check_oracle(work, data, res):
    """Compare the check pass's results with their oracle SQL in DuckDB
    through the repository's correctness gate, tools/check.py, which reads
    <work>/out/oracle_sql.json and <work>/out/<query>/*.parquet."""
    env = {k: v for k, v in os.environ.items() if k not in ('CHECK_SKIP', 'CHECK_TIMEOUT_S')}
    env['CHECK_MEM_GB'] = '1'
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, 'tools', 'check.py'), os.path.join(work, 'out'), data],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail('oracle check timed out')
    lines = proc.stdout.splitlines()
    verdicts = [ln for ln in lines if ln.startswith(('PASS ', 'FAIL '))]
    failed = [ln[len('FAIL '):] for ln in verdicts if ln.startswith('FAIL ')]
    checked = {ln.split()[1].rstrip(':') for ln in verdicts}
    res['checks'] += len(res['order'])
    res['failures'] += [f'oracle: {f}' for f in failed]
    res['failures'] += [f'oracle: {n}: not checked' for n in res['order'] if n not in checked]
    if proc.returncode != 0 and not failed:
        res['failures'].append(f'oracle: tools/check.py exited with {proc.returncode}: '
                               + proc.stdout[-300:].strip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala'))):
        fail(f'no engine sources under {ROOT}: run from a graft checkout')
    cp = build()
    data = query_data() if args.workload == 'query_mix' else None
    work = os.path.join(BUILD, 'work', f'{args.workload}-{args.seed}-t{args.trace}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, args, work, data)
    if args.workload == 'query_mix':
        check_oracle(work, data, res)
    out = metrics.result(res, traced=bool(args.trace))
    print(metrics.summary(res), flush=True)
    print(json.dumps(out), flush=True)
    # keep the trace files of traced runs; drop sinks and outputs
    for d in os.listdir(work):
        if os.path.isdir(os.path.join(work, d)):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


if __name__ == '__main__':
    main()
