from kafka_backup_spark.functions.murmur2 import (  # noqa: F401
    KAFKA_SEED,
    kafka_partition_expr,
    murmur2,
    murmur2_pandas_expr,
    to_positive,
)
from kafka_backup_spark.functions.globs import glob_to_regex, globs_to_regex  # noqa: F401
from kafka_backup_spark.functions.codecs import (  # noqa: F401
    le_i32_decode,
    le_i32_encode,
    le_i64_decode,
    le_i64_encode,
)
