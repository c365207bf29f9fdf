"""Helper process of ``perfbench/run.py``: runs the benchmark's own work
(input generation, the DuckDB oracle comparison) outside the measured
processes.

It reads pickled ``(fn, args)`` requests from standard input, one after the
other, and answers each on standard output with a pickled ``(True, result)``
or ``(False, traceback)``.  It exits when standard input closes.  Whatever
the called code prints goes to standard error, so it cannot corrupt the
replies.
"""

from __future__ import annotations

import os
import pickle
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    requests = sys.stdin.buffer
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    while True:
        try:
            fn, args = pickle.load(requests)
        except EOFError:
            return 0
        try:
            reply = (True, fn(*args))
        except Exception:  # noqa: BLE001 - sent back to the caller
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


if __name__ == "__main__":
    sys.exit(main())
