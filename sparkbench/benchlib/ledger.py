"""Per-layer metrics of one traced pass, from the harness's raw record.

The traced pass is the pass span whose segment is "traced": the first
pass after the warm-up, memos evicted before it, like the first timed
pass. Spark jobs belong to it when their job group is a span inside it;
stages and tasks follow their jobs. Two later passes of the same units
price the tracing (traced minus untraced) and the memo builds (traced
minus traced without eviction).
"""
from benchlib import metrics

MB = 1024 * 1024
BUILD_SPANS = ('query.build', 'aria.run')

UNITS = {
    'aria.epochs': 'count', 'aria.commit_ratio': 'ratio', 'aria.jobs_per_epoch': 'count',
    'query.build_share': 'ratio', 'catalyst.plans': 'count',
    'sched.jobs': 'count', 'sched.stages': 'count', 'sched.tasks': 'count',
    'sched.single_task_stages': 'count', 'exec.parallelism': 'ratio',
    'shuffle.write_mb': 'MB', 'shuffle.read_mb': 'MB', 'shuffle.spill_mb': 'MB',
    'scan.input_mb': 'MB', 'scan.rows': 'count',
    'cache.block_mb_peak': 'MB', 'cache.blocks_live_end': 'count', 'host.load1': 'load',
}


def _span_tree(record):
    """Benchmark spans plus one span per Spark job, parented by group."""
    led = record['ledger']
    ends = {j['job']: j['end_ms'] for j in led['job_ends']}
    tree = {s['id']: dict(s) for s in record['spans']}
    for j in led['jobs']:
        if j['job'] in ends:
            tree[f"job{j['job']}"] = {'id': f"job{j['job']}", 'name': 'spark.job',
                                      'parent': j['group'], 'start_ms': j['start_ms'],
                                      'end_ms': ends[j['job']], 'stages': j['stages']}
    selfs = metrics.self_times({k: (s['parent'], s['start_ms'], s['end_ms'])
                                for k, s in tree.items()})
    for k, s in tree.items():
        s['self_ms'] = selfs[k]
    return tree


def _subtree(tree, root):
    kids = {}
    for k, s in tree.items():
        kids.setdefault(s['parent'], []).append(k)
    out, todo = set(), [root]
    while todo:
        k = todo.pop()
        out.add(k)
        todo += kids.get(k, [])
    return out


def per_layer(record):
    """Returns ({metric: value}, [span, ...]) for the traced pass."""
    passes = {p['segment']: p for p in record['passes']}
    traced = passes['traced']
    lo, hi = traced['start_ms'], traced['end_ms']
    wall = (hi - lo) / 1000
    led = record['ledger']
    tree = _span_tree(record)
    root = next(k for k, s in tree.items()
                if s['name'] == 'pass' and s.get('segment') == 'traced')
    inside = _subtree(tree, root)
    jobs = [s for k, s in tree.items() if k in inside and s['name'] == 'spark.job']
    stage_ids = {st for j in jobs for st in j['stages']}
    stages = [s for s in led['stages'] if s['stage'] in stage_ids]
    tasks = [t for t in led['tasks'] if t['stage'] in stage_ids]
    plans = [p for p in led['plans'] if lo <= p['start_ms'] <= hi]
    units = [u for u in record['units'] if u['segment'] == 'traced']

    def spans_named(names):
        return [s for k, s in tree.items() if k in inside and s['name'] in names]

    build = sum(u.get('build_s', 0) for u in units)
    execute = sum(u.get('exec_s', 0) for u in units)
    stats = [s for u in units for s in u.get('stats', [])]
    epochs = len(stats)
    aria_runs = {s['id'] for s in spans_named(('aria.run',))}
    aria_jobs = sum(1 for j in jobs if any(j['parent'] in _subtree(tree, r) for r in aria_runs))
    durations = [(s['end_ms'] - s['submit_ms']) / 1000 for s in stages]
    single = [d for s, d in zip(stages, durations) if s['tasks'] == 1]
    task_cpu = sum(t['cpu_ns'] for t in tasks) / 1e9
    task_run = sum(t['run_ms'] for t in tasks) / 1000
    busy = [(t['launch_ms'], t['finish_ms']) for t in tasks]

    blocks = sorted(led['blocks'], key=lambda b: b['t_ms'])
    before = [b for b in blocks if b['t_ms'] < lo][-1:]
    during = [b for b in blocks if lo <= b['t_ms'] <= hi]
    upto_end = [b for b in blocks if b['t_ms'] <= hi]

    values = {
        'aria.epochs': epochs,
        'aria.commit_ratio': (sum(s[2] for s in stats) / sum(s[1] for s in stats))
        if stats else 0.0,
        'aria.run_s': sum(u.get('build_s', 0) for u in units if 'stats' in u),
        'aria.materialize_s': sum(u.get('exec_s', 0) for u in units if 'stats' in u),
        'aria.jobs_per_epoch': aria_jobs / epochs if epochs else 0.0,
        'query.build_s': build,
        'query.exec_s': execute,
        'query.build_share': build / (build + execute) if build + execute else 0.0,
        'query.build_self_s': sum(s['self_ms'] for s in spans_named(BUILD_SPANS)) / 1000,
        'memo.build_s': traced['wall_s'] - passes['traced_no_evict']['wall_s'],
        'trace.overhead_s': traced['wall_s'] - passes['untraced']['wall_s'],
        'catalyst.plans': len(plans),
        'catalyst.plan_s': sum(p['plan_ms'] for p in plans) / 1000,
        'sched.jobs': len(jobs),
        'sched.stages': len(stages),
        'sched.tasks': len(tasks),
        'sched.single_task_stages': len(single),
        'sched.single_task_stage_s': sum(single),
        'sched.longest_stage_s': max(durations, default=0.0),
        'exec.task_cpu_s': task_cpu,
        'exec.task_run_s': task_run,
        'exec.parallelism': task_run / wall,
        'exec.idle_s': metrics.idle_time(lo, hi, busy) / 1000,
        'exec.gc_s': sum(t['gc_ms'] for t in tasks) / 1000,
        'shuffle.write_mb': sum(t['shuffle_write_b'] for t in tasks) / MB,
        'shuffle.read_mb': sum(t['shuffle_read_b'] for t in tasks) / MB,
        'shuffle.fetch_wait_s': sum(t['fetch_wait_ms'] for t in tasks) / 1000,
        'shuffle.spill_mb': sum(t['spill_b'] for t in tasks) / MB,
        'scan.input_mb': sum(t['input_b'] for t in tasks) / MB,
        'scan.rows': sum(t['input_rows'] for t in tasks),
        'cache.block_mb_peak': max((b['bytes'] for b in before + during), default=0) / MB,
        'cache.blocks_live_end': upto_end[-1]['live'] if upto_end else 0,
        'jvm.driver_cpu_s': traced['cpu_s'] - task_cpu,
        'jvm.gc_s': traced['gc_s'],
        'jvm.jit_s': traced['jit_s'],
        'setup.warmup_s': record['setup']['warmup_s'],
    }
    spans = sorted(tree.values(), key=lambda s: (s['start_ms'], str(s['id'])))
    return values, spans
