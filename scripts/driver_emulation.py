"""Emulate the spark-graft driver's verify: t1 smoke (entry at sf0.001) and
t2 correctness (every queries() entry vs oracle_sql() through DuckDB at
sf0.01, row count + order-insensitive exact values). Exit 1 on any mismatch.

Usage: driver_emulation.py [sf_dir] [--only name1,name2,...]
--only restricts t2 to the named queries (the scoped recipe for iterating
on new registrations without replaying the whole registry).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bicis_spark.caching import release_tracked  # noqa: E402
from bicis_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import assert_oracle_match, duck_views  # noqa: E402


def main() -> int:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    for i, a in enumerate(argv):
        if a == "--only":
            if i + 1 >= len(argv):
                raise SystemExit("usage: driver_emulation.py [sf_dir] --only name1,name2")
            only = set(argv[i + 1].split(","))
            del argv[i : i + 2]
            break
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            del argv[i]
            break
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    if sf_dir.startswith("-"):
        raise SystemExit(f"unrecognized argument: {sf_dir}")
    spark = get_spark(app_name="driver_emulation")
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"t1 entry: rows={n} schema={df.schema.simpleString()}")
    ok = n > 0

    con = duck_views(sf_dir)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if only is not None:
        missing = only - set(qs)
        assert not missing, f"--only names not registered: {sorted(missing)}"
    outcomes: dict[str, str] = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                assert_oracle_match(sdf, con, oracles[name], name)
                outcomes[name] = "MATCH"
                print(f"t2 {name}: MATCH")
            else:
                outcomes[name] = "rows-only"
                print(f"t2 {name}: rows-only rows={sdf.count()}")
        except AssertionError as exc:
            ok = False
            outcomes[name] = "MISMATCH"
            print(f"t2 {name}: MISMATCH — {exc}")
        except Exception as exc:  # noqa: BLE001
            ok = False
            outcomes[name] = "ERROR"
            print(f"t2 {name}: ERROR — {type(exc).__name__}: {exc}")
        finally:
            # release builder caches between queries (tracked_persist
            # ownership-transfer contract, bicis_spark/caching.py) so 200+
            # queries don't accumulate caches in one session
            release_tracked()
            spark.catalog.clearCache()

    spark.stop()

    # Full-registry runs leave an auditable one-file summary next to the
    # driver's CORRECTNESS artifacts (r5 verdict item #6): the driver
    # samples ~50 queries per round, so this records that the OTHER
    # declared queries passed the same oracle check locally.
    if only is None:
        import json

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        counts = {
            s: sum(1 for v in outcomes.values() if v == s)
            for s in ("MATCH", "rows-only", "MISMATCH", "ERROR")
        }
        with open(os.path.join(repo, "EMULATION_latest.json"), "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(outcomes),
                    "counts": counts,
                    "outcomes": outcomes,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"t2 summary: {counts} -> EMULATION_latest.json")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
