from .extract import extract_text_bytes, extract_text_udf
from .jw import discretize, jaro_winkler, jaro_winkler_bytes
from .minhash import minhash_batch, minhash_params
from .shingles import hash64, hash_shingles_batch, shingles
from .simhash import simhash, simhash_bands, simhash_batch
from .text import rolling_fingerprint

__all__ = [
    "extract_text_bytes",
    "extract_text_udf",
    "discretize",
    "jaro_winkler",
    "jaro_winkler_bytes",
    "minhash_batch",
    "minhash_params",
    "hash64",
    "hash_shingles_batch",
    "shingles",
    "simhash",
    "simhash_bands",
    "simhash_batch",
    "rolling_fingerprint",
]
