"""Whole runs of a sorted partition, across Arrow batch boundaries: a
``mapInPandas`` walk over a partition sorted by its group keys sees each
group as one contiguous run, which a batch boundary may cut."""

from __future__ import annotations

import numpy as np


def complete_runs(batches, arrays_of):
    """Yield ``(cols, bounds)``: ``cols`` holds the rows of one or more
    whole runs and ``bounds`` the run offsets, from 0 to the row count.

    ``arrays_of(pdf)`` maps a non-empty pandas batch to equal-length arrays
    ``(keys, *cols)``; ``keys`` is 1-D (any dtype) or 2-D (one column per
    key), and a run is a maximal stretch of equal keys. A batch's last run
    is carried into the next batch, so a task holds at most one run plus
    one batch; the final run comes last.
    """
    carry = None
    for pdf in batches:
        if not len(pdf):
            continue
        keys, *cols = arrays_of(pdf)
        arrs = [keys.reshape(len(keys), -1), *cols]
        if carry is not None:
            arrs = [np.concatenate([c, a]) for c, a in zip(carry, arrs)]
        keys = arrs[0]
        new = np.ones(len(keys), dtype=bool)
        new[1:] = (keys[1:] != keys[:-1]).any(axis=1)
        starts = np.nonzero(new)[0]
        cut = starts[-1]  # the last run may continue into the next batch
        carry = [a[cut:] for a in arrs]
        if cut:
            yield tuple(a[:cut] for a in arrs[1:]), starts
    if carry is not None:
        yield tuple(carry[1:]), np.array([0, len(carry[0])])
