"""Run one benchmark workload; see perfbench/README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graftbench.cli import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
