#!/usr/bin/env python3
"""Record the input sizes each seed generates into expected_counts.json
(graph_rmat: one entry per seed; crawl_pipeline: its fixed link plant).

    python3 perfbench/record_counts.py FIRST_SEED LAST_SEED

run.py fails a run whose generated counts differ from the recorded ones,
so re-record only when a generator changes on purpose.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import run


def main() -> None:
    first, last = int(sys.argv[1]), int(sys.argv[2])
    path = Path(__file__).with_name("expected_counts.json")
    counts = json.loads(path.read_text())
    run._prepare_env()
    from perfbench.workloads import (
        CRAWL_PLANT_SEED, CrawlPipeline, GraphRmat,
    )

    spark = run._session()
    try:
        for seed in range(first, last + 1):
            g = GraphRmat(spark, seed, str(run.WORK), {})
            g.setup_round()
            touched = g.sym.select("src").distinct().count()
            counts.setdefault(g.name, {})[str(seed)] = {
                **g.counts, "vertices": touched,
            }
            g.release()
            print(seed, counts[g.name][str(seed)], flush=True)
        c = CrawlPipeline(spark, 0, str(run.WORK), {})
        c.setup_round()
        counts[c.name] = {str(CRAWL_PLANT_SEED): c.counts}
        c.release()
        print("crawl plant", c.counts, flush=True)
    finally:
        run._shutdown()
        shutil.rmtree(run.WORK, ignore_errors=True)
    path.write_text(json.dumps(counts, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
