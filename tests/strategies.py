"""The six physical strategies the rank-identity suites and
scripts/deep_fuzz.py force on a shared engine: one override table and
one apply/restore step, so the two cannot drift apart."""

from __future__ import annotations

from contextlib import contextmanager

STRATEGIES = ("driver", "driver_sparkio", "distributed",
              "and_pruned", "blockmax", "and_blockmax")

_OVERRIDES = {
    "distributed": {"_DRIVER_SCORE_MAX_POSTINGS": -1},
    "and_pruned": {"_DRIVER_SCORE_MAX_POSTINGS": 0},
    "blockmax": {"_BLOCKMAX_MIN_POSTINGS": 0,
                 "_BLOCKMAX_FLAT_MIN_POSTINGS": 0},
    "and_blockmax": {"_DRIVER_SCORE_MAX_POSTINGS": 0,
                     "_AND_SEED_MAX_POSTINGS": 0},
}


@contextmanager
def forced_strategy(engine, name: str):
    """Run `engine` under one physical strategy, then restore it.

    'driver' is the size-gated driver-scored fast path with embedded
    pyarrow IO (the default for a local root at fixture scale);
    'driver_sparkio' is driver scoring on the Spark read backend (see
    spark_io), the remote-root form; 'distributed' disables driver scoring, so the
    distributed mask-class fold runs; 'and_pruned' sets the Σdf cap to
    0, so every pure-AND query runs the block-pruned intersection path
    and everything else falls back to the distributed fold; 'blockmax'
    sets both block-max thresholds to 0, so every eligible single-term
    or flat-OR query runs the block-max early-termination decode;
    'and_blockmax' sets the Σdf cap and the seed cap to 0, so every
    pure-AND query runs the flat-AND block-max decode.  'blockmax' and
    'and_pruned' also empty the term LRU and give it a zero budget, so
    a warm engine can neither take the lru_warm in-memory fold instead
    of block-max nor serve the pruned AND's restricted reads from the
    cache; restoring sets the budget back to _TERM_LRU_MAX_POSTINGS."""
    overrides = _OVERRIDES.get(name, {})
    engine.__dict__.update(overrides)
    prev_io = engine.io_mode, engine._reader
    if name == "driver_sparkio":
        engine.io_mode = "spark"
        engine._pick_reader()
    if name in ("blockmax", "and_pruned"):
        engine._term_lru.clear()
        engine._term_lru.budget = 0
    try:
        yield engine
    finally:
        for attr in overrides:
            del engine.__dict__[attr]
        engine.io_mode, engine._reader = prev_io
        engine._term_lru.budget = engine._TERM_LRU_MAX_POSTINGS


@contextmanager
def spark_io(engine):
    """Run `engine` on the Spark read backend (io_mode='spark': every
    driver-side read is filter().select().toArrow()), then restore its
    backend."""
    with forced_strategy(engine, "driver_sparkio"):
        yield engine
