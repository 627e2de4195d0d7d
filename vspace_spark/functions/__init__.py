from vspace_spark.functions.text import (  # noqa: F401
    DOCID_PATTERN,
    everygrams_col,
    histogram,
    ngrams_col,
    normalize_col,
    normalize_nfc_udf,
    tokenize_col,
)
from vspace_spark.functions.vectors import (  # noqa: F401
    cosine_similarity,
    dot,
    double_matrix,
    l2_norm,
    l2_normalize,
)
