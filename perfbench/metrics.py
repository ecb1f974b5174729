"""Metric definitions and arithmetic for perfbench: the percentile rule,
the end-to-end and per-layer metric sets, and the result line."""
import re
import statistics

NAME_RE = re.compile(r'^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$')

# name -> unit; the same sets BENCHMARK.json declares
END_TO_END = {
    'setup_s': 's',
    'items_per_s': '1/s',
    'call_s_p50': 's',
    'call_s_p75': 's',
}
PER_LAYER = {
    'rpc.calls_per_block': 'count',
    'rpc.calls.eth_getBlockByNumber': 'count',
    'rpc.calls.eth_getBlockReceipts': 'count',
    'rpc.calls.trace_block': 'count',
    'rpc.posts': 'count',
    'rpc.bytes_per_block': 'bytes',
    'rpc.stub_busy_s': 's',
    'rpc.errors': 'count',
    'source.scan_s': 's',
    'enrich.s': 's',
    'format.s': 's',
    'sink.write_s': 's',
    'sink.files_written': 'count',
    'sink.bytes_per_block': 'bytes',
    'sink.write_amplification': 'ratio',
    'readback.s': 's',
    'resume.s': 's',
    'ingest.jobs': 'count',
    'ingest.task_s': 's',
    'ingest.core_util': 'ratio',
    'ingest.wall_per_job_ms': 'ms',
    'ingest.unaccounted_s': 's',
    'query.pass_wall_s': 's',
    'query.build_s': 's',
    'query.plan_s': 's',
    'query.exec_s': 's',
    'query.jobs_build': 'count',
    'query.jobs_exec': 'count',
    'query.task_s': 's',
    'query.core_util': 'ratio',
    'query.max_task_s': 's',
    'query.shuffle_bytes': 'bytes',
    'query.input_bytes': 'bytes',
    'query.spill_bytes': 'bytes',
    'trace.call_s_p50': 's',
}


def percentile(samples, p):
    """Linear-interpolation percentile (p in [0, 1]) of the samples."""
    xs = sorted(samples)
    pos = p * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, beyond=10):
    """Highest whole percentile of n samples with at least `beyond` samples
    above it, as a fraction; None when n is too small for any."""
    for pct in range(99, 0, -1):
        p = pct / 100
        if n - 1 - int(p * (n - 1)) >= beyond:
            return p
    return None


def _calls(res):
    return [c['seconds'] for c in res['calls']]


def end_to_end(res):
    secs = _calls(res)
    if res['workload'] == 'query_mix':
        items = len(res['order']) / statistics.median(res['pass_walls_s'])
    else:
        items = sum(c['items'] for c in res['calls']) / sum(secs)
    return {
        'setup_s': statistics.median(res['setup_rounds_s']),
        'items_per_s': items,
        'call_s_p50': statistics.median(secs),
        'call_s_p75': percentile(secs, 0.75),
    }


def per_layer(res):
    vals = {name: 0.0 for name in PER_LAYER}
    vals.update({k: v for k, v in res['layers'].items() if k in PER_LAYER})
    vals['trace.call_s_p50'] = statistics.median(_calls(res))
    return vals


def result(res, traced):
    failed = len(res['failures'])
    attempted = res['attempts'] + res['checks']
    ok = failed == 0 and len(res['calls']) > 0
    if traced:
        vals, units = per_layer(res) if res['calls'] else {}, PER_LAYER
    else:
        vals, units = end_to_end(res) if res['calls'] else {}, END_TO_END
    return {'correct': ok, 'attempted': max(1, attempted), 'failed': failed,
            'metrics': {k: {'value': v, 'unit': units[k]} for k, v in vals.items()}}


def summary(res):
    """One human-readable line with the workload's own metric names."""
    secs = _calls(res)
    n = len(secs)
    parts = [f"perfbench {res['workload']} seed={res['seed']} cores={res['cores']}"
             f" calls={n}"]
    if n:
        parts.append(f"setup_s={statistics.median(res['setup_rounds_s']):.3f}")
        if res['workload'] == 'query_mix':
            level = tail_level(n)
            parts.append(f"mix_wall_s={statistics.median(res['pass_walls_s']):.3f}"
                         f" query_s_p50={statistics.median(secs):.4f}")
            if level:
                parts.append(f"query_s_p{round(level * 100)}={percentile(secs, level):.4f}")
        else:
            blocks = sum(c['items'] for c in res['calls'])
            parts.append(f'blocks_per_s={blocks / sum(secs):.1f}'
                         f' increment_s_p50={statistics.median(secs):.4f}')
        parts.append(f"peak_rss_mb={res['peak_rss_mb']:.0f}")
    attempted = res['attempts'] + res['checks']
    parts.append(f"error_rate={len(res['failures']) / max(1, attempted):.4f}")
    for f in res['failures'][:5]:
        parts.append(f'| FAIL {f}')
    return ' '.join(parts)
