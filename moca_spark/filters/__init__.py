from moca_spark.filters.bloom import BloomFilter  # noqa: F401
from moca_spark.filters.cuckoo import CuckooFilter  # noqa: F401
