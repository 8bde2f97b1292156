"""Fold a fresh bench run into the committed element-wise-MIN record
(bench_last_sf<sf>.json) with ``round_open.element_wise_min``: each
query keeps the smaller of (record, run), and a query the run no longer
has is dropped, so the record covers only registered queries. Usage:

    python scripts/fold_bench_min.py <fresh_run.json> [record.json]
"""

from __future__ import annotations

import json
import os
import sys

from round_open import element_wise_min


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fresh_path = sys.argv[1]
    fresh = json.load(open(fresh_path))
    record_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo, f"bench_last_sf{fresh['sf']}.json")
    )
    record = json.load(open(record_path)) if os.path.exists(record_path) else fresh
    merged = element_wise_min(record, fresh)
    with open(record_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    print(
        f"folded {fresh_path} into {record_path}: "
        f"total {record.get('value')} -> {merged['value']}"
    )


if __name__ == "__main__":
    main()
