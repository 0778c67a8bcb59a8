"""Engine configuration.

The reference auto-tunes (w, m, l) from (c, p, n) at index build time
(/root/reference/methods/qalsh.h:196-235) and persists them in a `para` file
(methods/qalsh.h:255-281).  Here the analogous knobs are (num_perm, bands,
rows, jaccard_threshold, ...), carried in one frozen dataclass whose stable
hash is written into every stage manifest so a resumed run can prove it is
continuing the same logical pipeline.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash lane ------------------------------------------
    shingle_k: int = 3            # word n-gram size
    num_perm: int = 128           # MinHash permutations (FIXTURES.md §2)
    bands: int = 32               # b
    rows: int = 4                 # r; bands*rows must equal num_perm
    jaccard_threshold: float = 0.5  # exact-Jaccard verify threshold
    minhash_seed: int = 6         # mirrors srand(6) @ reference methods/main.cc:152

    # --- SimHash lane -------------------------------------------------------
    # Manku block-combination banding: C(blocks, key_blocks) keys per doc,
    # each ~ (key_blocks/blocks)*64 bits wide; guarantees discovery for
    # hamming <= blocks - key_blocks.  (A naive 4x16-bit pigeonhole saturates
    # its 65k-bucket key space around 10^5 docs and floods quadratic random
    # collisions — see kernels.simhash_band_keys.)
    simhash_blocks: int = 6
    simhash_key_blocks: int = 3
    hamming_max: int = 3

    # --- suffix (exact substring) lane -------------------------------------
    suffix_window: int = 16       # rolling-hash window (bytes) for anchors
    suffix_gap: int = 32          # expected anchor gap: anchor where h % gap == 0
    lcp_min: int = 100            # shared-run length proven by one bucket key

    # --- skew / scale -------------------------------------------------------
    bucket_cap: int = 64          # buckets larger than this use star pairing

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_perm:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) must equal num_perm ({self.num_perm})"
            )
        if self.simhash_blocks - self.simhash_key_blocks < self.hamming_max:
            raise ValueError(
                "simhash blocks - key_blocks must be >= hamming_max for the "
                "pigeonhole discovery guarantee"
            )

    # ------------------------------------------------------------------
    def config_hash(self) -> str:
        """Stable hash of the logical config — stage-manifest identity."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    # ------------------------------------------------------------------
    @staticmethod
    def tune_bands(threshold: float, num_perm: int = 128) -> tuple[int, int]:
        """Pick (b, r) with b*r == num_perm whose S-curve midpoint
        (1/b)^(1/r) is closest to `threshold`.

        This is the analog of the reference's probability-driven auto-tuning
        of (w, m, l) from (c, p) — /root/reference/methods/qalsh.h:196-235 —
        applied to the standard 1-(1-s^r)^b banding collision curve.
        """
        best: tuple[float, int, int] | None = None
        for r in range(1, num_perm + 1):
            if num_perm % r:
                continue
            b = num_perm // r
            mid = (1.0 / b) ** (1.0 / r)
            d = abs(mid - threshold)
            if best is None or d < best[0]:
                best = (d, b, r)
        assert best is not None
        return best[1], best[2]

    @staticmethod
    def tune_bands_prefix(threshold: float, num_perm: int = 128) -> tuple[int, int]:
        """Pick (b, r) with b*r <= num_perm (a PREFIX of the permutations)
        whose S-curve midpoint is closest to `threshold`.

        Unlike `tune_bands`, r need not divide num_perm, so the midpoint
        ladder is much finer (r=3 -> b=42 -> midpoint 0.29, etc.).  Used by
        the escalation pass — the dedup analog of the reference's virtual
        rehashing, which grows the search radius geometrically instead of
        rebuilding hash tables (/root/reference/methods/qalsh.h:844-871):
        re-band the SAME signatures at a coarser operating point instead of
        re-signing documents."""
        best: tuple[float, int, int] | None = None
        for r in range(1, num_perm + 1):
            b = num_perm // r
            if b < 1:
                break
            mid = (1.0 / b) ** (1.0 / r)
            d = abs(mid - threshold)
            if best is None or d < best[0]:
                best = (d, b, r)
        assert best is not None
        return best[1], best[2]

    @staticmethod
    def band_collision_prob(s: float, b: int, r: int) -> float:
        """P[>=1 band collides] for a pair at Jaccard s (the dedup analog of
        the reference's collision-probability functions,
        /root/reference/methods/random.cc:136-385)."""
        return 1.0 - (1.0 - s**r) ** b

    def expected_recall(self, s: float) -> float:
        return self.band_collision_prob(s, self.bands, self.rows)
