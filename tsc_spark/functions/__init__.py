from .codec_udfs import (
    decode_tokens_table,
    decode_tokens_udf,
    encode_tokens_udf,
)

__all__ = [
    "encode_tokens_udf",
    "decode_tokens_udf",
    "decode_tokens_table",
]
