"""Portable deterministic hashing for dedup / sketching.

Engine-native hash functions differ (Spark xxhash64 vs DuckDB hash), and
the reference's Python ``hash()`` is salted per process -- the source of
its nondeterministic partition assignment (SURVEY.md §4 defect 8).  Every
sketch here is built on **md5 of an explicit string**, which both Spark
and DuckDB expose with identical lowercase-hex output, so signatures,
bands and buckets replicate exactly in the oracle.

MinHash family: ONE md5 per distinct shingle, reduced to a 31-bit int
``h = hex60(md5(x)) mod P`` (P = 2^31-1, Mersenne), then k affine lanes
``mh_i = (a_i*h + b_i) mod P`` -- classic universal-hash minwise hashing.
All k lanes are pure int64 arithmetic inside whole-stage codegen (a*h <
2^62, no overflow), vs. the v1 scheme of k separate md5 calls and
lexicographic string mins: measured 8.2s -> ~4s warm at sf0.1 for the
full LSH pipeline, and the signature shuffle ships 16 ints instead of 16
hex strings.  Portability: Spark reads the 60-bit prefix with
``conv(substr(md5(x),1,15),16,10)``, DuckDB with
``('0x' || substr(md5(x),1,15))::BIGINT`` -- same value, hence identical
signatures, bands, and buckets in the oracle.

SimHash bit extraction avoids integer<->hex conversion builtins (DuckDB
lacks ``conv``): a hex digit's value is its position in
'0123456789abcdef', and its bits are looked up in a 64-char 0/1 string.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_MINHASHES = 16
MINHASH_BANDS = 8  # 8 bands x 2 rows

SIMHASH_BITS = 32
SIMHASH_BANDS = 8  # 8 bands x 4 bits: hamming <= 7 keeps >=1 band intact

# Wide geometry (Manku et al. 2007, WWW: near-duplicate detection for
# web crawling): the production 8x4 geometry's candidate mass is
# superlinear in corpus size -- simhash_band_width_audit MEASURES it at
# 19% of all pairs at sf0.1 -- because frequency-weighted signatures of
# same-vocabulary docs crowd 4-bit chunks.  The audit carries a wide
# row (SIMHASH_WIDE_BITS-bit signatures, SIMHASH_WIDE_BANDS bands of 15
# bits) so the switch is a measured decision, and the PINNED RULE is:
# flip the production default to the wide geometry when the audit's 8x4
# row reports n_candidate_pairs / n_docs > SIMHASH_CAND_PER_DOC_SWITCH
# (candidates PER DOC, not candidate fraction: the fraction is always
# large on a small homogeneous corpus while absolute per-doc candidate
# work is what a 100 TB join pays).  At the shipped SFs the 8x4 row
# stays the default: 2.4M candidates at sf0.1 is ~160/doc against a
# switch point of 512, and 32-bit hamming <= 7 remains the declared
# near-pair truth the banked simhash family is defined over.
# 60 bits (15 md5 nibbles), not Manku's 64, so the signature fits
# SIGNED BIGINT in both engines (bit 63 would overflow the sum).
SIMHASH_WIDE_BITS = 60
SIMHASH_WIDE_BANDS = 4  # 4 bands x 15 bits: hamming <= 3 keeps >=1 band
SIMHASH_CAND_PER_DOC_SWITCH = 512

# 16 nibbles as 4-bit binary strings: bit k of digit d is
# substring(BITS16, d*4 + k + 1, 1)   (1-indexed, k = 0..3 MSB-first)
BITS16 = "".join(format(i, "04b") for i in range(16))

HEX_DIGITS = "0123456789abcdef"


MINHASH_P = 2147483647  # 2^31 - 1: a*h + b < 2^62 fits BIGINT in both engines

# Deterministic affine constants per lane (Knuth multiplicative constants);
# a_i must be nonzero mod P for (a*h + b) mod P to be a permutation of Z_P.
MINHASH_AB: list[tuple[int, int]] = [
    ((i * 2654435761 + 1) % MINHASH_P, (i * 2654435869 + 17) % MINHASH_P)
    for i in range(NUM_MINHASHES)
]
assert all(a != 0 for a, _ in MINHASH_AB)


def md5_prefix(col: Column | str, nibbles: int = 15) -> Column:
    """The first ``nibbles`` hex digits of ``md5(col)`` as a BIGINT: the
    Spark spelling of the portable hash above (15 nibbles = 60 bits fits
    a signed BIGINT; DuckDB reads the same value with
    ``('0x' || substr(md5(x),1,nibbles))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, nibbles), 16, 10).cast("bigint")
