"""Shared ORC protobuf enum constants (format/orc_proto.proto in the
reference; public spec).  Single source of truth for the reader and
writer so the two sides cannot drift."""

# Stream.Kind
K_PRESENT, K_DATA, K_LENGTH, K_DICT_DATA, K_SECONDARY = 0, 1, 2, 3, 5
K_ROW_INDEX = 6
K_BLOOM_FILTER = 7
K_BLOOM_FILTER_UTF8 = 8

# ColumnEncoding.Kind
ENC_DIRECT, ENC_DICT, ENC_DIRECT_V2, ENC_DICT_V2 = 0, 1, 2, 3

# ColumnEncoding.Kind extensions: ids outside the spec's 0-3 for codecs
# beyond the reference's.  Native stripes (stripes.encode_stripe) write
# them and write_orc never does.  An external reader is NOT guaranteed
# to reject them: pyarrow 16 (ORC C++ 2.0.0) decodes an ENC_FOR column
# into wrong values without raising an error.
ENC_FOR = 18         # int DATA: frame-of-reference
ENC_BITPACK = 19     # int DATA: flat bit-pack of non-negative ints
ENC_INT_DICT = 20    # int DATA: integer dictionary
ENC_FSST = 21        # string DATA: FSST; LENGTH RLEv2

ENC_DICTS = (ENC_DICT, ENC_DICT_V2)
ENC_RLE_V2 = (ENC_DIRECT_V2, ENC_DICT_V2, ENC_FSST)

# Type.Kind
(TK_BOOL, TK_BYTE, TK_SHORT, TK_INT, TK_LONG, TK_FLOAT, TK_DOUBLE,
 TK_STRING, TK_BINARY, TK_TIMESTAMP, TK_LIST, TK_MAP, TK_STRUCT,
 TK_UNION, TK_DECIMAL, TK_DATE, TK_VARCHAR, TK_CHAR,
 TK_TIMESTAMP_INSTANT) = range(19)
