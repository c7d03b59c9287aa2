"""Training-data-pipeline operators over Spark DataFrames.

dedup       exact / n-gram Jaccard / MinHash-LSH / SimHash near-dup
text        tokenization, quality scoring, language ID, fingerprints
similarity  cosine top-k, k-NN join, random-hyperplane LSH ANN
multimodal  binary payload metadata (size, sha256)
roundtrip   forced-codec distributed encode/decode (TestEncoding analog)
"""

from . import dedup, multimodal, roundtrip, similarity, text  # noqa: F401
