from ala_name_matching_spark.functions.normalize import (  # noqa: F401
    basic_udf,
    canon_key_col,
    canon_text_col,
    concat_name_col,
    norm_punct_col,
    norm_spaces_col,
    norm_text_col,
    normalised_udf,
    soundex_normalize_col,
)
from ala_name_matching_spark.functions.phonetic import (  # noqa: F401
    phonetic_key_udf,
    treat_word,
    treat_word_udf,
)
from ala_name_matching_spark.functions.similarity import (  # noqa: F401
    jaro_winkler,
    levenshtein_similarity,
    token_set_similarity,
)
