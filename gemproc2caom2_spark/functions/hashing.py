"""Identity, hashing and partition-key kernels.

The reference derives every identity from the entry string
(``GemProcName``: file_id / file_uri / obs_id,
/root/reference/gemProc2caom2/builder.py:90-155). The web analog is
deterministic url canonicalization plus 64-bit hashing for partition
keys, dedup signatures and LSH bands — all pure Column expressions.

Two hash families:

- ``F.xxhash64`` — the fast JVM-native hash used on the hot path
  (partitioning, salting, internal signatures).
- ``hex15_hash`` — a 60-bit hash built from ``md5`` hex that is
  bit-identical in Spark and DuckDB/ANSI SQL, used wherever a result
  must be verifiable by an external SQL oracle:
  Spark:  cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: modulus for the minhash permutation family
# (universal hashing h_i(x) = (a_i * x + b_i) mod p).
MERSENNE_61 = (1 << 61) - 1
# 2^31 - 1: every hash is folded below it before the multiply, so
# a_i * x stays inside a bigint
M31 = (1 << 31) - 1


def hex15_hash(col: Column | str) -> Column:
    """60-bit integer hash of a string, identical in Spark and DuckDB.

    15 hex chars of md5 => value < 2^60, always positive, fits a BIGINT
    in both engines with no overflow/sign divergence.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hex15_hash_sql(expr: str) -> str:
    """DuckDB-side rendering of :func:`hex15_hash` for oracle SQL."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def url_normalize(url: Column | str) -> Column:
    """Canonical url: lowercase scheme+host, strip fragment, strip
    trailing slash, drop default ports.

    Analog of the reference's name repair
    (repair_data_label / get_prefix usage at
    /root/reference/gemProc2caom2/builder.py:149-153).
    """
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(c, r"#.*$", "")
    # lowercase the scheme://host part only, keep path case
    scheme_host = F.lower(F.regexp_extract(no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1))
    rest = F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    joined = F.when(scheme_host == "", no_frag).otherwise(F.concat(scheme_host, rest))
    # strip only the scheme-MATCHING default port: http://h:443 and
    # https://h:80 are distinct origins and must stay distinct
    no_port = F.regexp_replace(joined, r"^(http://[^/:]+):80(/|$)", r"$1$2")
    no_port = F.regexp_replace(no_port, r"^(https://[^/:]+):443(/|$)", r"$1$2")
    return F.regexp_replace(no_port, r"(.)/$", r"$1")


def url_normalize_sql(expr: str) -> str:
    """DuckDB rendering of :func:`url_normalize` for oracle SQL.

    Mirrors the Column chain regex-for-regex. Every pattern is
    anchored (or greedy to end-of-string), so DuckDB's
    replace-first-match semantics coincide with Spark's
    replace-all-matches semantics on each step.
    """
    no_frag = f"regexp_replace({expr}, '#.*$', '')"
    scheme_host = (
        f"lower(regexp_extract({no_frag},"
        f" '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1))"
    )
    rest = (
        f"regexp_replace({no_frag}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '')"
    )
    joined = (
        f"CASE WHEN {scheme_host} = '' THEN {no_frag}"
        f" ELSE {scheme_host} || {rest} END"
    )
    p80 = (
        f"regexp_replace({joined}, '^(http://[^/:]+):80(/|$)', '\\1\\2')"
    )
    p443 = f"regexp_replace({p80}, '^(https://[^/:]+):443(/|$)', '\\1\\2')"
    return f"regexp_replace({p443}, '(.)/$', '\\1')"


def url_host(url: Column | str) -> Column:
    """Host component of a url (the skew key: hot hosts need salting)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:]+)", 1))


def salted_partition_key(url: Column | str, n_salts: int = 16) -> Column:
    """Partition key = hash(host) combined with a per-url salt bucket.

    Docs from one host stay in at most ``n_salts`` partitions (locality
    for host-level joins) while a hot host cannot pin a single
    partition — the explicit-skew-handling requirement. AQE splits
    skewed JOIN partitions but not skewed UDF-compute partitions, so
    this salting is done by construction.
    """
    c = F.col(url) if isinstance(url, str) else url
    return F.xxhash64(url_host(c)) + F.pmod(F.xxhash64(c), F.lit(n_salts))


def minhash_perm_params(i: int) -> tuple[int, int]:
    """(a_i, b_i) of the i-th MinHash permutation
    h -> (a_i * (h mod p mod M31) + b_i) mod p, with p = MERSENNE_61 —
    the one definition every engine's signature reads (the Column form
    below, the numpy kernel in operators/dedup.py, the DuckDB oracle
    SQL). a_i < M31 and b_i < p, so a_i * (h mod M31) + b_i < 2^63:
    no engine's bigint math overflows.
    """
    a = (2 * i + 1) * 0x9E3779B97F4A7C15 % MERSENNE_61 % M31
    b = (i * 0xC2B2AE3D27D4EB4F + 0x165667B19E3779F9) % MERSENNE_61
    return a, b


def minhash_perm(hash_col: Column, i: int) -> Column:
    """i-th universal-hash permutation of a 64-bit hash column.

    The hash is folded to 31 bits first so the multiply fits a bigint:
    xxhash64 output is uniform, so the fold keeps the collision rate at
    ~2^-31 per shingle pair — fine for 128-perm minhash banding. pmod
    keeps a negative hash's residues in [0, p), as np.mod does.
    """
    a, b = minhash_perm_params(i)
    h31 = F.pmod(F.pmod(hash_col, F.lit(MERSENNE_61)), F.lit(M31))
    return F.pmod(h31 * F.lit(a) + F.lit(b), F.lit(MERSENNE_61))


def minhash_signature_sql(shingle_hashes: Column, num_perms: int = 32) -> Column:
    """Minhash signature as an array<bigint> of length ``num_perms``,
    computed entirely JVM-side from an array of shingle hashes.

    This is the composition-of-built-ins form ((a) in the custom-operator
    preference order); the scale path for 128 perms is the numpy
    pandas_udf in operators/dedup.py. Empty/absent shingles -> nulls.
    """
    def perm_lambda(idx: int):
        # single-arg lambda on purpose: a 2-arg lambda would make
        # F.transform pass the array INDEX as the second argument,
        # clobbering a default-bound loop variable
        return lambda h: minhash_perm(h, idx)

    return F.array(
        *[F.array_min(F.transform(shingle_hashes, perm_lambda(i)))
          for i in range(num_perms)]
    )
