"""Engine configuration mirroring rensa's constructor params + RENSA_* env knobs.

Reference surface being mirrored (citations into /root/reference):
- LSH ctor validation: src/lsh/config.rs:141-175 (threshold finite in [0,1],
  num_bands <= num_perm, num_perm % num_bands == 0).
- Rho knobs and defaults: src/rminhash.rs:52-86, src/rminhash/rho.rs:55-210.
- One-shot refinement knobs: src/lsh/config.rs:6-26.
- Default band count by threshold (deduplicator): src/inline_dedup/rminhash.rs:15-48.

In Spark this is a frozen dataclass built once on the driver and captured by
closure into pandas UDFs (broadcast implicitly via task serialization — it is
a few hundred bytes plus two num_perm-sized uint64 arrays built lazily on the
executor).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

# --- fixed algorithm constants (src/rminhash.rs:52-86) ---
DEFAULT_RHO_PROBES = 4
MIN_RHO_PROBES, MAX_RHO_PROBES = 1, 4
DEFAULT_RHO_TOKEN_BUDGET_MIN = 15
MAX_RHO_TOKEN_BUDGET = 4096
DEFAULT_RHO_SHORT_FULL_TOKEN_THRESHOLD = 32
DEFAULT_RHO_MEDIUM_TOKEN_THRESHOLD = 96
MIN_RHO_MEDIUM_TOKEN_THRESHOLD, MAX_RHO_MEDIUM_TOKEN_THRESHOLD = 33, 65_536
DEFAULT_RHO_MEDIUM_TOKEN_BUDGET = 64
DEFAULT_RHO_SPARSE_OCCUPANCY_THRESHOLD_BASE = 56
MIN_SPARSE_OCC_BASE, MAX_SPARSE_OCC_BASE = 1, 512
DEFAULT_RHO_SPARSE_VERIFY_PERM = 8
MIN_RHO_SPARSE_VERIFY_PERM, MAX_RHO_SPARSE_VERIFY_PERM = 1, 64
DEFAULT_RHO_LONG_DOC_FACTOR = 4
MIN_RHO_LONG_DOC_THRESHOLD, MAX_RHO_LONG_DOC_THRESHOLD = 64, 8192
EMPTY_BUCKET = 0xFFFFFFFF

# --- one-shot LSH refinement constants (src/lsh/config.rs:6-26) ---
DEFAULT_RHO_SPARSE_REQUIRED_BAND_MATCHES = 2
DEFAULT_RHO_SPARSE_VERIFY_THRESHOLD = 0.75
DEFAULT_RHO_SPARSE_VERIFY_MAX_CANDIDATES = 16
MIN_SVMC, MAX_SVMC = 1, 512
DEFAULT_RHO_BAND_FOLD = 2
DEFAULT_RHO_RECALL_RESCUE_MIN_TOKENS = 17
DEFAULT_RHO_RECALL_RESCUE_MAX_TOKENS = 96
DEFAULT_RHO_RECALL_RESCUE_REQUIRED_BAND_MATCHES = 2


def _env_int(name: str, default: int, lo: int, hi: int) -> int:
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return min(max(int(raw), lo), hi)
    except ValueError:
        return default


def _env_float(name: str, default: float, lo: float, hi: float) -> float:
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return min(max(float(raw), lo), hi)
    except ValueError:
        return default


def _env_flag(name: str, default: bool) -> bool:
    raw = os.environ.get(name)
    if raw is None:
        return default
    return raw != "0"


def rho_sparse_occupancy_threshold(num_perm: int, base: int) -> int:
    """src/rminhash/rho.rs:132-144: (base*num_perm + 64) // 128, clamped to [1, num_perm]."""
    scaled = (base * num_perm + 64) // 128
    return min(max(scaled, 1), max(num_perm, 1))


def default_rho_token_budget(num_perm: int) -> int:
    """src/rminhash/rho.rs:55-71: max(num_perm // 9, 15)."""
    return max(num_perm // 9, DEFAULT_RHO_TOKEN_BUDGET_MIN)


def default_lsh_bands(threshold: float, num_perm: int) -> int:
    """src/inline_dedup/rminhash.rs:15-27."""
    if threshold >= 0.9:
        selected = 4
    elif threshold >= 0.8:
        selected = 8
    elif threshold >= 0.7:
        selected = 16
    elif threshold >= 0.5:
        selected = 32
    else:
        selected = max(num_perm // 2, 1)
    if num_perm % selected == 0:
        return selected
    # snap down to largest divisor of num_perm <= selected (rminhash.rs:30-48)
    for bands in range(min(selected, num_perm), 0, -1):
        if num_perm % bands == 0:
            return bands
    return 1


@dataclass(frozen=True)
class RensaConfig:
    """All engine parameters, validated eagerly like src/lsh/config.rs:141-175."""

    num_perm: int = 128
    seed: int = 42
    threshold: float = 0.8
    num_bands: int = 8
    ngram_size: int = 3  # benchmarks/full_benchmark.py:306-310 word n-grams

    # Rho sketch knobs (defaults = reference env defaults)
    rho_probes: int = DEFAULT_RHO_PROBES
    rho_token_budget: int | None = None  # None -> adaptive default
    rho_token_budget_overridden: bool = False  # RENSA_RHO_TOKEN_BUDGET set
    rho_medium_token_threshold: int = DEFAULT_RHO_MEDIUM_TOKEN_THRESHOLD
    rho_medium_token_budget: int = DEFAULT_RHO_MEDIUM_TOKEN_BUDGET
    rho_sparse_occupancy_base: int = DEFAULT_RHO_SPARSE_OCCUPANCY_THRESHOLD_BASE
    rho_sparse_verify_perm: int = DEFAULT_RHO_SPARSE_VERIFY_PERM
    rho_densify: bool = False  # RENSA_RHO_DENSIFY, off by default (rho.rs:203-210)
    rho_adaptive_probes: bool = False  # RENSA_RHO_ADAPTIVE_PROBES (rho.rs:161-201)

    # One-shot LSH refinement knobs (src/lsh/config.rs)
    rho_sparse_required_band_matches: int = DEFAULT_RHO_SPARSE_REQUIRED_BAND_MATCHES
    rho_sparse_verify_enabled: bool = True
    rho_sparse_verify_threshold: float = DEFAULT_RHO_SPARSE_VERIFY_THRESHOLD
    rho_sparse_verify_max_candidates: int = DEFAULT_RHO_SPARSE_VERIFY_MAX_CANDIDATES
    rho_band_fold: int = DEFAULT_RHO_BAND_FOLD
    rho_recall_rescue_enabled: bool = True
    rho_recall_rescue_min_tokens: int = DEFAULT_RHO_RECALL_RESCUE_MIN_TOKENS
    rho_recall_rescue_max_tokens: int = DEFAULT_RHO_RECALL_RESCUE_MAX_TOKENS
    rho_recall_rescue_required_band_matches: int = (
        DEFAULT_RHO_RECALL_RESCUE_REQUIRED_BAND_MATCHES
    )

    # Spark-side knob (no reference counterpart — distribution hygiene):
    # buckets above max(hot_bucket_cap, exact_task_cap) pair via hub + ring
    # edges instead of every pair (operators/dedup.verified_pairs_from_band_rows)
    hot_bucket_cap: int = 1 << 20

    def __post_init__(self) -> None:
        if self.num_perm <= 0:
            raise ValueError("num_perm must be greater than 0")
        if not (0.0 <= self.threshold <= 1.0):
            raise ValueError("threshold must be a finite value in [0.0, 1.0]")
        if self.num_bands > self.num_perm:
            raise ValueError("num_bands cannot exceed num_perm")
        if self.num_perm % self.num_bands != 0:
            raise ValueError("num_perm must be divisible by num_bands")

    # ---- derived quantities ----
    @property
    def band_size(self) -> int:
        return self.num_perm // self.num_bands

    @property
    def sparse_occupancy_threshold(self) -> int:
        return rho_sparse_occupancy_threshold(self.num_perm, self.rho_sparse_occupancy_base)

    @property
    def default_token_budget(self) -> int | None:
        if self.rho_token_budget_overridden:
            return self.rho_token_budget
        if self.rho_token_budget is not None:
            return min(self.rho_token_budget, MAX_RHO_TOKEN_BUDGET) or None
        return default_rho_token_budget(self.num_perm)

    @property
    def sparse_verify_perm_clamped(self) -> int:
        hi = min(MAX_RHO_SPARSE_VERIFY_PERM, max(self.num_perm, 1))
        return min(max(self.rho_sparse_verify_perm, MIN_RHO_SPARSE_VERIFY_PERM), hi)

    @property
    def rho_long_doc_threshold(self) -> int:
        v = self.num_perm * DEFAULT_RHO_LONG_DOC_FACTOR
        return min(max(v, MIN_RHO_LONG_DOC_THRESHOLD), MAX_RHO_LONG_DOC_THRESHOLD)

    def effective_band_fold(self, rho_sidecar_present: bool, has_existing_entries: bool) -> int:
        """src/lsh/one_shot.rs:188-206 — fold only on the pure-matrix rho path."""
        fold = (
            min(max(self.rho_band_fold, 1), max(self.num_bands, 1))
            if (rho_sidecar_present and not has_existing_entries)
            else 1
        )
        if self.num_bands % fold != 0:
            fold = 1
        return fold

    def row_token_budget(self, source_token_count: int | None) -> int | None:
        """Adaptive 3-tier budget rule, src/rminhash/rho.rs:108-130."""
        if self.rho_token_budget_overridden:
            return self.default_token_budget
        if source_token_count is None:
            return self.default_token_budget
        if source_token_count <= DEFAULT_RHO_SHORT_FULL_TOKEN_THRESHOLD:
            return None
        if source_token_count <= self.rho_medium_token_threshold:
            return self.rho_medium_token_budget
        return self.default_token_budget

    def effective_probes(self, source_token_count: int) -> int:
        """Adaptive probes, src/rminhash/rho.rs:184-201 (off by default)."""
        probes = min(max(self.rho_probes, MIN_RHO_PROBES), MAX_RHO_PROBES)
        if probes <= 1 or not self.rho_adaptive_probes:
            return probes
        if source_token_count >= self.rho_long_doc_threshold:
            return probes
        return max(probes - 1, 1)

    def config_hash(self) -> str:
        import hashlib
        import json

        payload = json.dumps(
            {k: v for k, v in self.__dict__.items()}, sort_keys=True, default=str
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    @classmethod
    def from_env(cls, **overrides) -> "RensaConfig":
        """Read RENSA_* env knobs exactly like src/env.rs + per-module readers."""
        budget_raw = os.environ.get("RENSA_RHO_TOKEN_BUDGET")
        budget: int | None = None
        budget_overridden = budget_raw is not None
        if budget_raw is not None:
            try:
                budget = min(int(budget_raw), MAX_RHO_TOKEN_BUDGET) or None
            except ValueError:
                budget = default_rho_token_budget(int(overrides.get("num_perm", 128)))
        base = dict(
            rho_probes=_env_int("RENSA_RHO_PROBES", DEFAULT_RHO_PROBES, MIN_RHO_PROBES, MAX_RHO_PROBES),
            rho_token_budget=budget,
            rho_token_budget_overridden=budget_overridden,
            rho_medium_token_threshold=_env_int(
                "RENSA_RHO_MEDIUM_TOKEN_THRESHOLD",
                DEFAULT_RHO_MEDIUM_TOKEN_THRESHOLD,
                MIN_RHO_MEDIUM_TOKEN_THRESHOLD,
                MAX_RHO_MEDIUM_TOKEN_THRESHOLD,
            ),
            rho_medium_token_budget=_env_int(
                "RENSA_RHO_MEDIUM_TOKEN_BUDGET", DEFAULT_RHO_MEDIUM_TOKEN_BUDGET, 1, MAX_RHO_TOKEN_BUDGET
            ),
            rho_sparse_occupancy_base=_env_int(
                "RENSA_RHO_SPARSE_OCCUPANCY_THRESHOLD",
                DEFAULT_RHO_SPARSE_OCCUPANCY_THRESHOLD_BASE,
                MIN_SPARSE_OCC_BASE,
                MAX_SPARSE_OCC_BASE,
            ),
            rho_densify=_env_flag("RENSA_RHO_DENSIFY", False),
            rho_adaptive_probes=_env_flag("RENSA_RHO_ADAPTIVE_PROBES", False),
            rho_sparse_verify_enabled=_env_flag("RENSA_RHO_SPARSE_VERIFY_ENABLE", True),
            rho_sparse_verify_threshold=_env_float(
                "RENSA_RHO_SPARSE_VERIFY_THRESHOLD", DEFAULT_RHO_SPARSE_VERIFY_THRESHOLD, 0.0, 1.0
            ),
            rho_sparse_verify_max_candidates=_env_int(
                "RENSA_RHO_SPARSE_VERIFY_MAX_CANDIDATES",
                DEFAULT_RHO_SPARSE_VERIFY_MAX_CANDIDATES,
                MIN_SVMC,
                MAX_SVMC,
            ),
            rho_recall_rescue_enabled=_env_flag("RENSA_RHO_RECALL_RESCUE_ENABLE", True),
        )
        base.update(overrides)
        cfg = cls(**base)
        num_bands = base.get("num_bands", cfg.num_bands)
        fold = _env_int("RENSA_RHO_BAND_FOLD", DEFAULT_RHO_BAND_FOLD, 1, max(num_bands, 1))
        sparse_req = _env_int(
            "RENSA_RHO_SPARSE_REQUIRED_BAND_MATCHES",
            DEFAULT_RHO_SPARSE_REQUIRED_BAND_MATCHES,
            1,
            max(num_bands, 1),
        )
        rescue_min = _env_int(
            "RENSA_RHO_RECALL_RESCUE_MIN_TOKENS", DEFAULT_RHO_RECALL_RESCUE_MIN_TOKENS, 1, 65_536
        )
        rescue_max = max(
            _env_int("RENSA_RHO_RECALL_RESCUE_MAX_TOKENS", DEFAULT_RHO_RECALL_RESCUE_MAX_TOKENS, 1, 65_536),
            rescue_min,
        )
        rescue_req = _env_int(
            "RENSA_RHO_RECALL_RESCUE_REQUIRED_BAND_MATCHES",
            DEFAULT_RHO_RECALL_RESCUE_REQUIRED_BAND_MATCHES,
            1,
            max(num_bands, 1),
        )
        sv_perm = _env_int(
            "RENSA_RHO_SPARSE_VERIFY_PERM",
            DEFAULT_RHO_SPARSE_VERIFY_PERM,
            MIN_RHO_SPARSE_VERIFY_PERM,
            min(MAX_RHO_SPARSE_VERIFY_PERM, max(cfg.num_perm, 1)),
        )
        return replace(
            cfg,
            rho_band_fold=fold,
            rho_sparse_required_band_matches=sparse_req,
            rho_recall_rescue_min_tokens=rescue_min,
            rho_recall_rescue_max_tokens=rescue_max,
            rho_recall_rescue_required_band_matches=rescue_req,
            rho_sparse_verify_perm=sv_perm,
        )
