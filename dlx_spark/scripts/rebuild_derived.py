"""Rebuild derived state (text/words + logical fields) for a warehouse —
the analog of the reference's ``build_logical_fields.py`` and
``build_text_collections.py`` rebuild scripts, collapsed into one
deterministic Spark job.

The reference chunks 1k/10k records with a ``--start`` resume flag and
takes ≈15 minutes in production; here the rebuild is one distributed
job — rerunning IS resuming, because the derivation is a pure function
of the base table.

Usage::

    python -m dlx_spark.scripts.rebuild_derived --store /path/to/warehouse \
        --type bib [--type auth]
"""

from __future__ import annotations

import sys
import time
from argparse import ArgumentParser


def run(argv=None) -> int:
    parser = ArgumentParser(prog="rebuild-derived")
    parser.add_argument("--store", required=True)
    parser.add_argument("--type", action="append", choices=["bib", "auth"],
                        default=None)
    args = parser.parse_args(argv)
    record_types = args.type or ["bib", "auth"]

    from dlx_spark.session import get_spark
    from dlx_spark.marc import dataframe as mdf
    from dlx_spark.marc.store import MarcStore

    spark = get_spark("rebuild-derived")
    store = MarcStore(spark, args.store)
    headings = store.headings()

    for rtype in record_types:
        base = store.table(rtype)
        n = base.count()
        if n == 0:
            print(f"{rtype}: empty, skipped")
            continue
        t0 = time.time()
        # refresh linked-value caches from current headings, then derive;
        # the result lands through the store's live-commit step as one
        # delta segment superseding every record (no history version:
        # the records' content is unchanged, only what derives from it)
        derived = mdf.derive_text_words(base, headings=headings)
        derived = mdf.derive_logical_fields(derived, rtype, headings=None)
        store._upsert(rtype, derived, batch_max=store.max_id(rtype))
        print(f"{rtype}: rebuilt derived state for {n} records "
              f"in {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(run())
