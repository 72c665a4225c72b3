"""The machine's state around a run, so a throttled run identifies itself:
core count, 1-minute load average at the start, and the hypervisor CPU
steal (8th field of the /proc/stat cpu line) accrued during the run."""
import os


def cores():
    return len(os.sched_getaffinity(0))


def _loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _steal_jiffies():
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return -1


def snapshot():
    return {"loadavg": _loadavg(), "steal": _steal_jiffies()}


def record(start, end):
    steal = end["steal"] - start["steal"] if min(start["steal"], end["steal"]) >= 0 else -1
    return {"nproc": cores(), "loadavg_start": start["loadavg"], "steal_jiffies": steal}
