"""Sequential add-if-unique over whole conflict components, in numpy rounds.

rensa's ``RMinHashDeduplicator.add_pairs`` (src/inline_dedup/rminhash.rs:
233-299) keeps a row iff no earlier *kept* row conflicts with it. Over the
DAG of conflict edges (early -> late) that is the recursion
kept(v) = not any(kept(u) for u -> v), decided here a round at a time.
"""

from __future__ import annotations

import numpy as np

_UNDECIDED, _KEPT, _DUP = 0, 1, 2


def greedy_kept(early: np.ndarray, late: np.ndarray, n: int) -> np.ndarray:
    """kept[i] for nodes 0..n-1 under the edges (early[j] -> late[j]).

    Each round reads the state at its start:

    - a node with a kept predecessor is a duplicate at once (a kept node
      never changes, so its other predecessors cannot matter);
    - a node with neither a kept nor an undecided predecessor is kept.

    Edges whose late end is decided, or whose early end is a duplicate, can
    no longer decide anything and are dropped, so a round costs the live
    edges, the undecided nodes and two n-long flag arrays. An
    identical-content clique takes two rounds (its first member is kept,
    then every other one is a duplicate); a chain takes one round per node.
    A round that decides nothing means the edges form a cycle, and raises
    ``ValueError``."""
    early = np.asarray(early, dtype=np.int64)
    late = np.asarray(late, dtype=np.int64)
    state = np.full(n, _UNDECIDED, dtype=np.int8)
    todo = np.arange(n)
    while len(todo):
        e_state = state[early]
        dup = np.zeros(n, dtype=bool)
        dup[late[e_state == _KEPT]] = True
        blocked = np.zeros(n, dtype=bool)
        blocked[late[e_state == _UNDECIDED]] = True
        new = np.where(
            dup[todo], _DUP, np.where(blocked[todo], _UNDECIDED, _KEPT)
        ).astype(np.int8)
        if not new.any():
            raise ValueError(
                f"add_if_unique: conflict edges form a cycle among "
                f"{len(todo)} undecided rows (null order values?)"
            )
        state[todo] = new
        todo = todo[new == _UNDECIDED]
        live = (state[late] == _UNDECIDED) & (state[early] != _DUP)
        early, late = early[live], late[live]
    return state == _KEPT
