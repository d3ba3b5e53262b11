"""Seeded input generation for ``stream_live``.

Nothing here touches Spark or the engine: the program under test only
ever receives the events built from these.  ``zipf_users`` draws the
Zipf-skewed user ids of the generator and the reader;
``EVENT_TYPES``/``EVENT_MIX`` are the event types and their shares.
The catalog needs no generator: it reads the repository's test data
copied under ``perfbench/data``.
"""

from __future__ import annotations

import numpy as np

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_MIX = (0.40, 0.25, 0.15, 0.10, 0.10)


def zipf_users(rng: np.random.Generator, n: int, users: int,
               s: float = 0.9) -> np.ndarray:
    """``n`` user ids in ``[0, users)``, Zipf(s)-skewed (user 0 hottest)."""
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -s
    return rng.choice(users, size=n, p=p / p.sum()).astype(np.int64)
