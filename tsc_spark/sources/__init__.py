from .synth import (
    EDGE_DOCS,
    synth_tokens,
    synth_tokens_distributed,
    synth_tokens_skewed,
    synth_tokens_table,
)
from .tokens import canonicalize_tokens, read_tokens

__all__ = [
    "EDGE_DOCS",
    "canonicalize_tokens",
    "read_tokens",
    "synth_tokens",
    "synth_tokens_distributed",
    "synth_tokens_skewed",
    "synth_tokens_table",
]
