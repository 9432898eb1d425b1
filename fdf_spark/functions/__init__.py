from fdf_spark.functions.scalar import (  # noqa: F401
    davg,
    decode_shot_bytes,
    dsum,
    encode_shot_bytes,
)
