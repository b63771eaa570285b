"""Pipeline configuration.

Mirrors the reference's YAML config surface
(/root/reference/entity_resolution_engine/config/thresholds.yml:1-8,
llm_validation.yml:1-23, quality_gates.yml:1-4) as frozen dataclasses —
the same tunables, re-expressed for the web-pages graft.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BlockingConfig:
    """MinHash-LSH + exact-key blocking parameters.

    num_hashes = bands * rows_per_band.  With 48 bands x 4 rows the LSH
    S-curve crosses 50% at Jaccard ~ (1/48)^(1/4) ~ 0.38 and reaches
    ~99% by 0.55 — the measured p5 of intra-cluster 2-shingle Jaccard
    in the planted corpus, so blocking recall does not cap pairwise F1.
    The false-candidate rate this buys is controlled structurally:
    oversized LSH blocks are split+capped (max_block_size) and every
    split is logged, so a hot band key cannot explode the pair count.
    """

    # which candidate strategies to compose (SURVEY §4.1): "exact" is
    # the md5 star; "lsh" the MinHash band join.  An exact-only config
    # turns the resolve into pure transitive exact-dedup — which is
    # also the SQL-expressible configuration the driver's
    # er_resolve_exact oracle checks end-to-end.
    strategies: tuple = ("exact", "lsh")
    shingle_size: int = 2           # word n-gram shingles
    num_hashes: int = 192           # MinHash signature length
    lsh_bands: int = 48
    lsh_rows: int = 4               # bands * rows == num_hashes
    # Hot-key salting is realized as deterministic sub-block splitting
    # in the one candidate phase (blocking.bucket_pairs, through
    # bounded_block_pairs): a block above max_block_size is
    # split into ceil(size/max_block_size) sub-blocks by pmod(uid,
    # n_sub) and re-linked through a star of sub-block representatives,
    # so connectivity survives while per-block pair count stays
    # O(max_block_size²) (sub-block sizes scatter around the bound; it
    # is not exact).
    max_block_size: int = 64
    # Composite key mode (north_star: "domain + MinHash-LSH"): prefix
    # every LSH band key with the url's domain, confining candidates to
    # same-domain pairs.  OFF by default — global LSH strictly dominates
    # on recall (the synthetic corpus plants ~20% cross-domain dups, and
    # real boilerplate clones cross domains too); turn on for corpora
    # where domain partitioning is semantically safe to shrink shuffle
    # width at extreme scale.
    compose_domain: bool = False

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_hashes:
            raise ValueError("lsh_bands * lsh_rows must equal num_hashes")


@dataclass(frozen=True)
class ScoringConfig:
    """Pairwise-score weights and router thresholds.

    Analog of the reference's weighted player score (0.6*name +
    0.3*dob + 0.1*team, players_matcher.py:19-23) and its gray-zone
    router thresholds (llm_validation.yml:8-23): score < low → rejected,
    score ≥ high with no conflict flags → approved, else gray zone.
    """

    # pairwise features are computed on the first match_key_chars of
    # norm_text (the reference scores short normalized names, not
    # documents; whole-document similarity is the MinHash/blocking
    # stage's job).  Bounds both the O(len²) similarity kernels and the
    # enrichment-join shuffle bytes per pair.
    match_key_chars: int = 384
    w_jaro_winkler: float = 0.35
    w_token_jaccard: float = 0.35
    w_levenshtein: float = 0.20
    w_length_ratio: float = 0.10
    logistic_scale: float = 8.0     # steepness of the logistic squash
    logistic_midpoint: float = 0.55
    threshold_low: float = 0.45     # below → auto-reject
    threshold_high: float = 0.62    # at/above (no conflicts) → auto-approve
    fallback_mode: str = "auto_approve"  # gray-zone fallback when LLM disabled
    llm_enabled: bool = False
    max_llm_calls_per_run: int = 200
    # circuit breaker (reference llm_validation.yml circuit_breaker +
    # validation/router.py:148-160): opens on EITHER a full-window fail
    # rate ≥ max_fail_rate OR an invalid-JSON-retry rate ≥
    # max_invalid_json_rate
    llm_breaker_window: int = 50
    llm_breaker_max_fail_rate: float = 0.2
    llm_breaker_max_invalid_json_rate: float = 0.1
    # conflict-flag knobs (router.conflict_flags — the J11 adapter
    # signals).  domain_mismatch defaults OFF: web boilerplate clones
    # legitimately cross domains (the synth corpus plants ~20% such).
    max_warc_ts_gap_days: float = 365.0
    min_length_ratio: float = 0.3
    flag_domain_mismatch: bool = False


@dataclass(frozen=True)
class QualityGateConfig:
    """PASS/FAIL gate bounds (reference quality_gates.yml:1-4)."""

    max_review_rate: float = 0.15
    max_gray_zone_rate: float = 0.35
    max_error_rate: float = 0.05
    fail_on_high_severity_anomalies: bool = True


@dataclass(frozen=True)
class AnomalyConfig:
    """Z-score anomaly detection over run history
    (reference monitoring/anomaly_detector.py:19-130)."""

    lookback_runs: int = 8
    z_medium: float = 2.0
    z_high: float = 3.0
    min_baseline_runs: int = 2


@dataclass(frozen=True)
class PipelineConfig:
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    gates: QualityGateConfig = field(default_factory=QualityGateConfig)
    anomaly: AnomalyConfig = field(default_factory=AnomalyConfig)
    cc_max_iterations: int = 50          # connected-components safety bound
    cc_checkpoint_every: int = 3         # truncate lineage every k iterations
    # LLM validation transport: ``(system_prompt, user_prompt) -> str``.
    # The engine carries no network code — a caller injects the client
    # here (reference analog: cli/run_mapping.py:57-58 wiring the
    # router's LLM validator).  The hook only runs when BOTH this is
    # set AND scoring.llm_enabled is true, matching the reference's
    # llm_validation.yml:1 enabled flag.
    llm_transport: object = None


DEFAULT_CONFIG = PipelineConfig()
