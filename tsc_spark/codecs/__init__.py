from .deltadelta import decode, decode_dod, encode, encode_dod

__all__ = ["encode", "decode", "encode_dod", "decode_dod"]
