"""Host contention over a run window, recorded beside every result:
CPU steal, CPU used by processes outside the benchmark, and loadavg."""
import os


def _cpu():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]), idle, steal


def _own():
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


class Window:
    """Call `close()` after every child process has been waited for, so
    their CPU is in this process's children times."""

    def __init__(self):
        self.hz = os.sysconf("SC_CLK_TCK")
        self.cpu0, self.own0 = _cpu(), _own()
        self.load0 = os.getloadavg()

    def close(self):
        total1, idle1, steal1 = _cpu()
        total0, idle0, steal0 = self.cpu0
        dt = max(1, total1 - total0)
        busy_s = ((total1 - idle1) - (total0 - idle0) - (steal1 - steal0)) / self.hz
        own_s = _own() - self.own0
        return {
            "steal_share": round((steal1 - steal0) / dt, 4),
            "outside_cpu_s": round(max(0.0, busy_s - own_s), 2),
            "benchmark_cpu_s": round(own_s, 2),
            "window_cpu_s": round(dt / self.hz, 2),
            "loadavg_1m_start": self.load0[0],
            "loadavg_1m_end": os.getloadavg()[0],
        }
