"""Helpers of the benchmark that decide what is reported: box sizing,
the percentile rule and the spread of repeated runs. Tested in
perfbench/tests/test_stats.py."""
import math
import os
import statistics

# percentiles a tail may be reported at, highest last
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def nproc():
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_kb(meminfo="/proc/meminfo"):
    """`MemTotal`, lowered to the cgroup's memory limit if it has one."""
    with open(meminfo) as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit != "max":
            kb = min(kb, int(limit) // 1024)
    except OSError:
        pass
    return kb


def levels(cpus):
    """Thread counts of the scaling pair: N = max(1, floor(nproc/4))
    and 4N, never above nproc (on fewer than 4 CPUs the upper level is
    nproc itself)."""
    n = max(1, cpus // 4)
    return n, min(4 * n, cpus)


def heap_mb(mem_kb):
    """Heap of a measuring JVM: an eighth of the box's memory, at least
    1 GiB and at most 8 GiB. Only one measuring JVM runs at a time."""
    return int(min(8192, max(1024, mem_kb // 8 // 1024)))


def capped_docs(target, heap):
    """Corpus size: the workload's target, lowered so that a corpus
    never needs more than about 64 KiB of heap per document (the
    batch oracle holds every assembled doc at once)."""
    return int(min(target, heap * 16))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """Highest reportable percentile for n samples: the largest one in
    TAIL_PERCENTILES that leaves at least ten samples beyond it, or
    None when even the median would not."""
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            best = p
    return best


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, as `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
