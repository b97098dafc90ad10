"""Host-noise record for one run: hypervisor steal over the timed passes
and a fixed single-core spin probe before and after them, measured as
``bench.py`` measures them, compared with the quiet-host spin profile in
``perfbench/hostprofile.json``. As in ``bench.py``'s noise gate, the run
is flagged on the slower of the spins, so noise in either half of the
window shows."""

from __future__ import annotations

import json
import os

from bench import _SPIN_ITERS, _STEAL_BUDGET_FRAC, _read_steal_sec, _spin_sec

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hostprofile.json")
#: a spin slower than the profile by more than this factor flags the run
SPIN_TOLERANCE = 1.2


class Probe:
    """Started before the timed passes; ``finish``, called after them,
    closes the steal window and spins again."""

    def __init__(self):
        self.spins = [_spin_sec()]
        self.steal0 = _read_steal_sec()
        self.t0 = os.times().elapsed
        self.steal_frac = None

    def finish(self) -> None:
        steal1 = _read_steal_sec()
        wall = os.times().elapsed - self.t0
        if self.steal0 is not None and steal1 is not None and wall > 0:
            self.steal_frac = (steal1 - self.steal0) / (wall * (os.cpu_count() or 1))
        self.spins.append(_spin_sec())

    def record(self) -> dict:
        with open(PROFILE) as f:
            profile = json.load(f)
        spin_max = max(self.spins)
        noisy = (spin_max > profile["spin_sec"] * SPIN_TOLERANCE
                 or (self.steal_frac is not None and self.steal_frac > _STEAL_BUDGET_FRAC))
        return {"spin_iters": _SPIN_ITERS, "spin_s": [round(s, 4) for s in self.spins],
                "profile_spin_s": profile["spin_sec"],
                "steal_frac": None if self.steal_frac is None else round(self.steal_frac, 5),
                "steal_budget_frac": _STEAL_BUDGET_FRAC, "noisy": noisy}
