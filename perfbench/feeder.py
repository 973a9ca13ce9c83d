"""Open-loop feeder: one thread that lands pre-generated files into the
program's input directories on a fixed schedule.

Each landing is an atomic rename from the staging directory. File k is
due at `t0 + k / rate`; a landing that runs late does not push back the
ones after it, so a slow program faces the same arrival schedule as a
fast one. Due and actual times (wall clock, ns) are logged per file so
latency is measured from when a file was due, not from when it landed.
"""
import os
import threading
import time


class Feeder(threading.Thread):
    def __init__(self, landings, rate_per_s, t0_ns):
        """landings: [(src, dst)], one per slot."""
        super().__init__(daemon=True, name="feeder")
        self.landings = landings
        self.period_ns = int(1e9 / rate_per_s)
        self.t0_ns = t0_ns
        self.log = []            # (slot, due_ns, landed_ns)
        self._halt = threading.Event()

    def run(self):
        for k, (src, dst) in enumerate(self.landings):
            due = self.t0_ns + k * self.period_ns
            wait = (due - time.time_ns()) / 1e9
            if wait > 0 and self._halt.wait(wait):
                return
            if self._halt.is_set():
                return
            os.rename(src, dst)
            self.log.append((k, due, time.time_ns()))

    def stop(self):
        self._halt.set()
        self.join()

    def lateness_ms(self):
        return [(landed - due) / 1e6 for _, due, landed in self.log]
