"""capelinker_spark — a PySpark-native record-linkage / entity-resolution engine.

Re-expresses the query and data-processing capabilities of the reference R
package ``capelinker`` (rijpma/capelinker) as an idiomatic Spark DataFrame
pipeline: blocking (soundex / first-letter / sorted-neighborhood / banded
numeric / bigram-cosine), pairwise feature scoring with Arrow-vectorized
UDFs (Jaro-Winkler, OSA, soundex distance, numeric deltas), a
logistic / gradient-boosted match classifier, dual-rank link selection, and
transitive clustering via iterative min-label propagation — designed for
Common-Crawl-scale inputs (salted keys, broadcast dims, checkpointed stages).

No code is copied from the reference; citations in docstrings point at the
reference behaviour each component reproduces (file:line of /root/reference).
"""

__version__ = "0.1.0"

# every Python worker that unpickles a capelinker UDF imports this package:
# stop its per-task zip-directory re-reads (see _zipcache)
from capelinker_spark import _zipcache

_zipcache.install()
