#!/usr/bin/env python
"""Differential sweep driver: run an adversarial layout family over a
seed range against the ACTUAL reference engine and tally outcomes.

Previous rounds ran these sweeps ad-hoc; this makes them reproducible:

    python tools/diff_sweep.py --family v4 --start 50000 --n 1000
    python tools/diff_sweep.py --family v3 --surface legacy --n 300

Outcome classes per seed:
  equivalent   both engines agree on every compared surface
  no_tables    neither engine produced a table (vacuous agreement)
  divergent    engines disagree (REAL finding -> fix or mirror)
  repo_crash   our kernel raised (REAL finding)
  ref_crash    the reference itself raised; classified by the deepest
               reference-side frame (known families are expected)

Prints a JSON tally to stdout, one seed-list per class.
"""

import argparse
import collections
import json
import multiprocessing as mp
import os
import random
import sys
import tempfile
import traceback
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))

from pdf2gtfs_spark.sources.transcripts import cells_to_payload  # noqa: E402

_mod = None          # test_ref_differential, imported per worker
_merge = False       # run with merge_split_tables=True (both engines)
_seed_timeout = 60   # per-seed wall clock before classifying 'timeout'


def _init_worker(merge: bool, seed_timeout: int):
    global _seed_timeout
    _seed_timeout = seed_timeout
    _init(merge)


def _init(merge: bool = False):
    global _mod, _merge
    import test_ref_differential as mod
    _mod = mod
    _merge = merge
    if merge:
        ref = mod.load_reference()
        ref["Config"].merge_split_tables = True


def _fields_for(family: str, seed: int):
    rng = random.Random(seed)
    if family == "v2":
        cls = _mod.TestAdversarialLayouts
        payload = cells_to_payload(cls._layout(rng))
    elif family == "v3":
        cls = _mod.TestAdversarialLayoutsV3
        payload = cls._payload_sized(cls._layout(rng))
    elif family == "v4":
        cls = _mod.TestAdversarialLayoutsV4
        payload = cls._payload_cid(cls._layout(rng), rng)
    elif family == "v5":
        cls = _mod.TestAdversarialLayoutsV5
        payload = cells_to_payload(cls._layout(rng))
    else:
        raise SystemExit(f"unknown family {family!r}")
    return payload


def _ref_site(exc) -> str:
    """Deepest reference-side frame of the traceback, 'file.py:line'."""
    site = "unknown"
    for fr in traceback.extract_tb(exc.__traceback__):
        if "/reference/" in fr.filename:
            site = f"{os.path.basename(fr.filename)}:{fr.lineno}"
    return site


def _run_newpath(family: str, seed: int):
    import dataclasses
    cfg = (dataclasses.replace(_mod.NEW_CFG, merge_split_tables=True)
           if _merge else _mod.NEW_CFG)
    payload = _fields_for(family, seed)
    fields = _mod.payload_fields(payload)
    try:
        repo_tables = _mod.tables_from_fields(fields, cfg)
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("repo_crash", f"{type(e).__name__}: {e}")
    try:
        ref_tables = _mod.run_reference(fields)
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("ref_crash", _ref_site(e))
    if not repo_tables and not ref_tables:
        return ("no_tables", "")
    with tempfile.TemporaryDirectory() as td:
        try:
            _mod.assert_equivalent(fields, Path(td), f"{family}_{seed}",
                                   expect_tables=False, cfg=cfg)
        except AssertionError as e:
            return ("divergent", str(e)[:400])
        except TimeoutError:
            raise
        except Exception as e:                              # noqa: BLE001
            # assert_equivalent re-runs the reference (to_timetable /
            # to_file stages run only here) — classify crash side
            for fr in traceback.extract_tb(e.__traceback__):
                if "/reference/" in fr.filename:
                    return ("ref_crash", _ref_site(e))
            return ("repo_crash", f"{type(e).__name__}: {e}")
    return ("equivalent", "")


def _run_legacy(family: str, seed: int):
    payload = _fields_for(family, seed)
    cls = _mod.TestLegacySurface
    try:
        repo = cls._repo_legacy(payload)
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("repo_crash", f"{type(e).__name__}: {e}")
    with tempfile.TemporaryDirectory() as td:
        try:
            ref = cls._ref_legacy(payload, Path(td))
        except TimeoutError:
            raise
        except Exception as e:                              # noqa: BLE001
            return ("ref_crash", _ref_site(e))
    if not repo and not ref:
        return ("no_tables", "")
    if len(repo) != len(ref):
        return ("divergent", f"table count {len(repo)} != {len(ref)}")
    for k, (a, b) in enumerate(zip(repo, ref)):
        if a != b:
            return ("divergent", f"table {k}: repo={a!r:.200} "
                                 f"ref={b!r:.200}")
    return ("equivalent", "")


_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from pyspark.sql import SparkSession
        _spark = (SparkSession.builder.master("local[8]")
                  .appName("diff-sweep-gtfs")
                  .config("spark.driver.host", "127.0.0.1")
                  .config("spark.driver.bindAddress", "127.0.0.1")
                  .config("spark.sql.shuffle.partitions", "8")
                  .config("spark.sql.execution.arrow.pyspark.enabled",
                          "true")
                  .config("spark.ui.enabled", "false")
                  .config("spark.driver.memory", "8g")
                  .getOrCreate())
    return _spark


def _reset_spark():
    """Tear down a dead/poisoned session (gateway died mid-sweep)."""
    global _spark
    if _spark is not None:
        try:
            _spark.stop()
        except Exception:                                   # noqa: BLE001
            pass
        try:
            from pyspark import SparkContext
            SparkContext._gateway = None
            SparkContext._jvm = None
        except Exception:                                   # noqa: BLE001
            pass
        _spark = None


def _run_gtfs(family: str, seed: int):
    """Full-feed surface: payload -> extraction -> GTFS feed, both
    engines, id-free normalized compare (test_ref_gtfs_differential).
    Runs sequentially in-process (needs a SparkSession)."""
    import test_ref_gtfs_differential as gmod
    payload = _fields_for(family, seed)
    try:
        rf = gmod.ref_feed(payload)
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("ref_crash", _ref_site(e))
    try:
        mf = gmod.repo_feed(payload, _get_spark())
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("repo_crash", f"{type(e).__name__}: {e}")
    if all(not rf[s] for s in rf) and all(not mf[s] for s in mf):
        return ("no_tables", "")
    for surface_name in ("stops", "routes", "calendar", "trips",
                         "calendar_dates"):
        if rf[surface_name] != mf[surface_name]:
            return ("divergent",
                    f"{surface_name}: repo={mf[surface_name]!r:.200} "
                    f"ref={rf[surface_name]!r:.200}")
    return ("equivalent", "")


def _run_route(family: str, seed: int):
    """Route-location surface: payload -> feed -> per-route Dijkstra
    search -> select_best + interpolation, vs the reference locate
    package on the same synthetic OSM table.  Sequential (Spark)."""
    import test_ref_route_differential as rmod
    payload = _fields_for(family, seed)
    try:
        ref_handles = rmod.load_reference_gtfs()
        stop_names = rmod._stop_names_for(payload, ref_handles)
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("ref_crash", _ref_site(e))
    if not stop_names:
        return ("no_tables", "")
    raw = rmod.synthetic_osm(stop_names, seed=seed)
    try:
        ref = rmod.ref_locate(payload, raw.copy())
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        return ("ref_crash", _ref_site(e))
    try:
        ref2 = rmod.assert_locate_equivalent(
            payload, raw.copy(), _get_spark(), f"{family}_{seed}")
    except AssertionError as e:
        return ("divergent", str(e)[:400])
    except TimeoutError:
        raise
    except Exception as e:                                  # noqa: BLE001
        for fr in traceback.extract_tb(e.__traceback__):
            if "/reference/" in fr.filename:
                return ("ref_crash", _ref_site(e))
        return ("repo_crash", f"{type(e).__name__}: {e}")
    if not ref and not ref2:
        return ("no_tables", "")
    return ("equivalent", "")


def _one(task):
    family, surface, seed = task
    import signal

    def _alarm(signum, frame):
        raise TimeoutError()

    try:
        signal.signal(signal.SIGALRM, _alarm)
        signal.alarm(_seed_timeout)
    except ValueError:          # non-main thread (sequential surfaces)
        pass
    try:
        if surface == "legacy":
            cls, detail = _run_legacy(family, seed)
        elif surface == "gtfs":
            cls, detail = _run_gtfs(family, seed)
        elif surface == "route":
            cls, detail = _run_route(family, seed)
        else:
            cls, detail = _run_newpath(family, seed)
    except TimeoutError:
        cls, detail = "timeout", f">{_seed_timeout}s"
        if _spark is not None:      # don't let the zombie job linger
            try:
                _spark.sparkContext.cancelAllJobs()
            except Exception:                               # noqa: BLE001
                pass
    except Exception as e:                                  # noqa: BLE001
        cls, detail = "harness_error", f"{type(e).__name__}: {e}"
        if "Connection refused" in str(e) or "Py4JNetworkError" in str(e):
            _reset_spark()          # dead gateway: rebuild next seed
    finally:
        try:
            signal.alarm(0)
        except ValueError:
            pass
    return seed, cls, detail


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", default="v4",
                    choices=["v2", "v3", "v4", "v5"])
    ap.add_argument("--surface", default="newpath",
                    choices=["newpath", "legacy", "gtfs", "route"])
    ap.add_argument("--start", type=int, default=50000)
    ap.add_argument("--n", type=int, default=1000)
    ap.add_argument("--workers", type=int,
                    default=min(16, os.cpu_count() or 4))
    ap.add_argument("--details", action="store_true",
                    help="print per-seed detail for non-equivalent")
    ap.add_argument("--merge-split", action="store_true",
                    help="run with merge_split_tables=True (newpath)")
    ap.add_argument("--seed-timeout", type=int, default=60,
                    help="per-seed seconds before 'timeout' class")
    args = ap.parse_args()

    tasks = [(args.family, args.surface, s)
             for s in range(args.start, args.start + args.n)]
    tally = collections.Counter()
    seeds = collections.defaultdict(list)
    details = {}
    global _seed_timeout
    _seed_timeout = args.seed_timeout
    if args.surface in ("gtfs", "route"):   # Spark: sequential
        _init(args.merge_split)
        results = map(_one, tasks)
    else:
        pool = mp.Pool(args.workers, initializer=_init_worker,
                       initargs=(args.merge_split, args.seed_timeout))
        results = pool.imap_unordered(_one, tasks, chunksize=8)
    for seed, cls, detail in results:
        tally[cls] += 1
        if cls not in ("equivalent", "no_tables"):
            seeds[cls].append(seed)
            details[seed] = detail
    if args.surface not in ("gtfs", "route"):
        pool.close()
        pool.join()
    if "ref_crash" in seeds:
        site_tally = collections.Counter(
            details[s] for s in seeds["ref_crash"])
    else:
        site_tally = {}
    out = {
        "family": args.family, "surface": args.surface,
        "range": [args.start, args.start + args.n],
        "tally": dict(tally),
        "ref_crash_sites": dict(site_tally),
        "seeds": {k: sorted(v)[:50] for k, v in seeds.items()},
    }
    if args.details:
        out["details"] = {str(s): details[s]
                          for k in ("divergent", "repo_crash",
                                    "harness_error")
                          for s in sorted(seeds.get(k, []))[:20]}
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
