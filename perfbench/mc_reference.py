"""Replay Monte-Carlo configs with ``simulate_one`` in a fresh process.

Usage: python3 -m perfbench.mc_reference '[[n_internal, n_external, rep], ...]'

Prints the long-format result rows of every config as one JSON list. The
benchmark runs this with the BLAS thread settings that Spark gives its
Python workers, so the reference and the Spark rows make the same
floating-point reductions.
"""

from __future__ import annotations

import json
import sys

from mrt_data_integration_spark.simulation.harness import simulate_one


def main() -> None:
    rows = []
    for ni, ne, rep in json.loads(sys.argv[1]):
        rows.extend(simulate_one(rep, ni, ne).to_dict("records"))
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
