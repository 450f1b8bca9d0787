from .deltadelta import decode, decode_dod, encode

__all__ = ["encode", "decode", "decode_dod"]
