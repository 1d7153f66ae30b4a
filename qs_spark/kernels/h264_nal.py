"""h.264 Annex-B NAL layer — from-scratch, stdlib-only (public ITU-T spec).

Round 4 narrowed the video stub to "structurally real stream, opaque slice
payload"; this round CLOSES the pixel boundary for the streams the engine
emits and any conformant stream coded the same way: the corpus encoder now
codes every frame losslessly — IDR frames as all-I_PCM macroblocks (spec
7.3.5/7.4.5: raw luma+chroma samples carried verbatim in the bitstream,
byte-aligned) and non-IDR frames as all-skip P slices (P_Skip: bit-exact
copy of the previous frame under the zero-MV prediction this GOP shape
yields) — and the parser side performs a REAL pixel decode: SPS/PPS
exp-Golomb parse, emulation-prevention unescape, access-unit walk, slice
-> macroblock walk -> reconstructed y/cb/cr planes (cropped per SPS), with
P_Skip frames resolving to the preceding decoded picture.

The honest remaining boundary: ENTROPY-CODED residual macroblocks
(CAVLC/CABAC coefficients + intra/inter prediction).  A third-party stream
using them raises NotImplementedError from the pixel decoder — metadata,
access units, and NAL-span digests still work on such streams; only
pixel reconstruction genuinely needs a full codec.

Spec sections (ITU-T H.264, public): 7.3.2.1.1 seq_parameter_set_data,
7.3.2.2 pic_parameter_set_rbsp, 7.3.3 slice_header, 7.3.4 slice_data,
7.3.5 macroblock_layer (I_PCM arm), 7.4.1 emulation_prevention_three_byte,
9.1 Exp-Golomb ue(v)/se(v).

Reference parity note: the reference service never decodes video at all
(AmeyaAI/QuantaSearch has no video path); this module serves the round's
multimodal-column requirement, not a reference behavior.
"""

from __future__ import annotations

import numpy as np

NAL_SLICE = 1
NAL_IDR = 5
NAL_SPS = 7
NAL_PPS = 8

_START = b"\x00\x00\x00\x01"


# ------------------------------------------------------------------ bits


class BitWriter:
    """MSB-first bit accumulator with Exp-Golomb (spec 9.1) writers.

    Backed by a bytearray + an 8-bit staging register (not a per-bit list):
    I_PCM slices carry hundreds of KB of raw samples, and `raw_bytes`
    appends them in one bulk extend at byte alignment (the alignment the
    spec's pcm_alignment_zero_bit guarantees)."""

    def __init__(self) -> None:
        self._buf = bytearray()
        self._cur = 0  # staging bits, MSB-first
        self._n = 0  # bits staged (< 8)

    def u(self, n: int, value: int) -> None:
        cur, nb = self._cur, self._n
        for i in range(n - 1, -1, -1):
            cur = (cur << 1) | ((value >> i) & 1)
            nb += 1
            if nb == 8:
                self._buf.append(cur)
                cur, nb = 0, 0
        self._cur, self._n = cur, nb

    def ue(self, value: int) -> None:
        code = value + 1
        n = code.bit_length()
        self.u(2 * n - 1, code)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def align_zero(self) -> None:
        """Zero bits to the next byte boundary (pcm_alignment_zero_bit,
        spec 7.3.5)."""
        if self._n:
            self._buf.append(self._cur << (8 - self._n))
            self._cur, self._n = 0, 0

    def raw_bytes(self, data: bytes) -> None:
        """Bulk byte append; caller must be byte-aligned (I_PCM samples)."""
        assert self._n == 0, "raw_bytes requires byte alignment"
        self._buf += data

    def rbsp_trailing(self) -> None:
        """rbsp_stop_one_bit + byte alignment (spec 7.3.2.11)."""
        self.u(1, 1)
        self.align_zero()

    def bytes(self) -> bytes:
        assert self._n == 0, "unaligned RBSP"
        return bytes(self._buf)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # bit position

    @property
    def bit_pos(self) -> int:
        return self._pos

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self._pos >> 3
            if byte >= len(self._data):
                raise ValueError("h264 bitstream truncated")
            v = (v << 1) | ((self._data[byte] >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("h264 exp-golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def byte_align_zero(self) -> None:
        """Consume pcm_alignment_zero_bit(s) to the next byte boundary,
        validating each is zero (spec 7.3.5 requires it)."""
        while self._pos & 7:
            if self.u(1):
                raise ValueError("nonzero pcm_alignment bit")

    def read_bytes(self, n: int) -> bytes:
        """Bulk byte read at byte alignment (I_PCM samples)."""
        assert self._pos & 7 == 0, "read_bytes requires byte alignment"
        byte = self._pos >> 3
        if byte + n > len(self._data):
            raise ValueError("h264 bitstream truncated")
        self._pos += 8 * n
        return self._data[byte : byte + n]


# ------------------------------------------------- emulation prevention


_ESC_RE = None


def escape_rbsp(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte (spec 7.4.1): any 0x0000
    followed by a byte <= 0x03 gets 0x03 spliced in so no NAL body ever
    contains a start-code prefix.  C-speed via re: each non-overlapping
    0x0000 with a <=0x03 lookahead gains a 0x03 — scanning resumes after
    the consumed pair, which reproduces the reference walker's
    zeros-counter reset exactly (parity test in test_multimodal)."""
    global _ESC_RE
    if _ESC_RE is None:
        import re

        _ESC_RE = re.compile(rb"\x00\x00(?=[\x00-\x03])")
    return _ESC_RE.sub(b"\x00\x00\x03", rbsp)


def unescape_rbsp(data: bytes) -> bytes:
    """Drop emulation_prevention_three_byte: each literal 0x000003 whose
    next byte is <= 0x03 loses the 0x03.  find()-driven (escapes are rare —
    ~1 per 2^24 random bytes), resuming after the dropped byte, which
    matches the reference walker's zeros reset (hypothesis parity test)."""
    j = data.find(b"\x00\x00\x03")
    if j == -1:
        return data
    out = bytearray()
    i, n = 0, len(data)
    while j != -1:
        if j + 3 < n and data[j + 3] <= 3:
            out += data[i : j + 2]  # keep the two zeros, drop the 0x03
        else:
            out += data[i : j + 3]  # not an escape (incl. end-of-data 0x03)
        i = j + 3
        j = data.find(b"\x00\x00\x03", i)
    out += data[i:]
    return bytes(out)


# ------------------------------------------------------------------ SPS


def build_sps(
    width: int,
    height: int,
    profile_idc: int = 66,
    level_idc: int = 30,
    log2_max_frame_num: int = 8,
) -> bytes:
    """seq_parameter_set_data RBSP (spec 7.3.2.1.1), baseline/main profile,
    pic_order_cnt_type=2 (no POC fields), frame_mbs_only, with frame
    cropping when the pixel dims aren't MB multiples.  4:2:0 crop units are
    2 px, so only even dimensions are representable (the corpus is even)."""
    if width % 2 or height % 2:
        raise ValueError("h264 4:2:0 cropping needs even dimensions")
    w_mbs = (width + 15) // 16
    h_mbs = (height + 15) // 16
    crop_r = (w_mbs * 16 - width) // 2  # CropUnitX = 2 (4:2:0)
    crop_b = (h_mbs * 16 - height) // 2  # CropUnitY = 2 (frame_mbs_only)
    w = BitWriter()
    w.u(8, profile_idc)
    w.u(8, 0)  # constraint_set0..5 + reserved_zero_2bits
    w.u(8, level_idc)
    w.ue(0)  # seq_parameter_set_id
    w.ue(log2_max_frame_num - 4)
    w.ue(2)  # pic_order_cnt_type=2: order follows decode order, no fields
    w.ue(1)  # max_num_ref_frames
    w.u(1, 0)  # gaps_in_frame_num_value_allowed_flag
    w.ue(w_mbs - 1)
    w.ue(h_mbs - 1)
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(1, 0)
    w.u(1, 0)  # vui_parameters_present_flag
    w.rbsp_trailing()
    return w.bytes()


_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}


def _skip_scaling_list(r: BitReader, size: int) -> None:
    """scaling_list (spec 7.3.2.1.1.1) — parsed to advance, values unused."""
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt else last


def parse_sps(rbsp: bytes) -> dict:
    """Decode seq_parameter_set_data -> {profile_idc, level_idc, width,
    height, log2_max_frame_num, pic_order_cnt_type}.  Handles high-profile
    chroma/bit-depth/scaling-matrix fields and all three POC types so
    third-party baseline/main/high SPSes parse, not just our encoder's."""
    r = BitReader(rbsp)
    profile_idc = r.u(8)
    r.u(8)  # constraint flags
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for i in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # CropUnit per spec table 6-1: 4:2:0 -> (2, 2*(2-frame_mbs_only))
    unit_x = 2 if chroma_format_idc in (1, 2) else 1
    unit_y = (2 if chroma_format_idc == 1 else 1) * (2 - frame_mbs_only)
    width = 16 * w_mbs - unit_x * (crop_l + crop_r)
    height = 16 * h_units * (2 - frame_mbs_only) - unit_y * (crop_t + crop_b)
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
        "log2_max_frame_num": log2_max_frame_num,
        "pic_order_cnt_type": poc_type,
        "chroma_format_idc": chroma_format_idc,
        "frame_mbs_only": frame_mbs_only,
        # uncropped coded dims + the crop window origin, for pixel decode
        "pic_width_mbs": w_mbs,
        "pic_height_mbs": h_units * (2 - frame_mbs_only),
        "crop_left_px": unit_x * crop_l,
        "crop_top_px": unit_y * crop_t,
    }


# ---------------------------------------------------------------- slices


def build_pps() -> bytes:
    """Minimal pic_parameter_set_rbsp (spec 7.3.2.2): CAVLC, one slice
    group, no weighted pred, no deblock-control override, no 8x8."""
    w = BitWriter()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(1, 0)  # entropy_coding_mode_flag (CAVLC)
    w.u(1, 0)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(1, 0)  # weighted_pred_flag
    w.u(2, 0)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 0)  # deblocking_filter_control_present_flag
    w.u(1, 0)  # constrained_intra_pred_flag
    w.u(1, 0)  # redundant_pic_cnt_present_flag
    w.rbsp_trailing()
    return w.bytes()


def _slice_header(idr: bool, frame_num: int, log2_max_frame_num: int, idr_pic_id: int) -> BitWriter:
    """slice_header (spec 7.3.3) through dec_ref_pic_marking for the
    SPS/PPS this module emits (poc_type=2, no weighted pred)."""
    w = BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7 if idr else 5)  # slice_type: I-all / P-all
    w.ue(0)  # pic_parameter_set_id
    w.u(log2_max_frame_num, frame_num)
    if idr:
        w.ue(idr_pic_id)
        w.u(1, 0)  # no_output_of_prior_pics_flag
        w.u(1, 0)  # long_term_reference_flag
    else:
        w.u(1, 0)  # num_ref_idx_active_override_flag
        w.u(1, 0)  # ref_pic_list_modification_flag_l0
        w.u(1, 0)  # adaptive_ref_pic_marking_mode_flag
    w.se(0)  # slice_qp_delta
    return w


def _nal(ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    return _START + bytes([(ref_idc << 5) | nal_type]) + escape_rbsp(rbsp)


I_PCM_MB_TYPE = 25  # I-slice mb_type for I_PCM (spec table 7-11)


def synth_frame_planes(
    width: int, height: int, seed: int, idr_index: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic synthetic picture for (seed, idr_index): gradient luma
    with zero-stripe rows every 8th row (long 0x00 runs -> every corpus
    payload exercises emulation-prevention escaping), half-res 4:2:0
    chroma.  Returns (y[h,w], cb[h/2,w/2], cr[h/2,w/2]) uint8."""
    r = np.arange(height, dtype=np.int64)[:, None]
    c = np.arange(width, dtype=np.int64)[None, :]
    y = ((r * 3 + c * 5 + seed * 17 + idr_index * 29) % 256).astype(np.uint8)
    y[(np.arange(height) + seed) % 8 == 0] = 0
    rc = np.arange(height // 2, dtype=np.int64)[:, None]
    cc = np.arange(width // 2, dtype=np.int64)[None, :]
    cb = ((rc * 7 + cc * 2 + seed * 5 + idr_index * 13) % 256).astype(np.uint8)
    cr = ((rc * 2 + cc * 9 + seed * 11 + idr_index * 7) % 256).astype(np.uint8)
    return y, cb, cr


def _pad_to_mb(plane: np.ndarray, mb: int) -> np.ndarray:
    """Edge-replicate a plane to macroblock-multiple dims (the samples the
    SPS cropping window later discards)."""
    h, w = plane.shape
    ph, pw = -h % mb, -w % mb
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


_MB_BYTES = 256 + 64 + 64  # 4:2:0 8-bit I_PCM samples per macroblock
# a byte-aligned I_PCM macroblock record: mb_type ue(25) is the 9 bits
# 000011010, pcm_alignment_zero_bit pads 7 more -> the constant 2-byte
# prefix 0x0D 0x00, then 384 raw sample bytes.  Both codec directions use
# this to go vectorized after the first (odd-aligned) macroblock.
_MB_PREFIX = (0x0D, 0x00)
_MB_RECORD = 2 + _MB_BYTES


def _mb_sample_blocks(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """(n_mbs, 384) uint8: each row a macroblock's I_PCM payload in spec
    order (16x16 luma raster, then 8x8 cb, then 8x8 cr)."""
    yp, cbp, crp = _pad_to_mb(y, 16), _pad_to_mb(cb, 8), _pad_to_mb(cr, 8)
    mh, mw = yp.shape[0] // 16, yp.shape[1] // 16
    yb = yp.reshape(mh, 16, mw, 16).transpose(0, 2, 1, 3).reshape(mh * mw, 256)
    cbb = cbp.reshape(mh, 8, mw, 8).transpose(0, 2, 1, 3).reshape(mh * mw, 64)
    crb = crp.reshape(mh, 8, mw, 8).transpose(0, 2, 1, 3).reshape(mh * mw, 64)
    return np.concatenate([yb, cbb, crb], axis=1)


def _blocks_to_planes(
    blocks: np.ndarray, mbs_w: int, mbs_h: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of _mb_sample_blocks: (n_mbs, 384) -> uncropped planes."""
    yb = blocks[:, :256].reshape(mbs_h, mbs_w, 16, 16)
    y = yb.transpose(0, 2, 1, 3).reshape(mbs_h * 16, mbs_w * 16)
    cbb = blocks[:, 256:320].reshape(mbs_h, mbs_w, 8, 8)
    cb = cbb.transpose(0, 2, 1, 3).reshape(mbs_h * 8, mbs_w * 8)
    crb = blocks[:, 320:].reshape(mbs_h, mbs_w, 8, 8)
    cr = crb.transpose(0, 2, 1, 3).reshape(mbs_h * 8, mbs_w * 8)
    return y, cb, cr


def _ipcm_slice_rbsp(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    frame_num: int,
    log2_mfn: int,
    idr_pic_id: int,
) -> bytes:
    """IDR slice RBSP whose slice_data is all-I_PCM macroblocks: per MB,
    mb_type ue(25) + pcm_alignment_zero_bit + 256 raw luma + 2x64 raw
    chroma bytes (spec 7.3.5, 4:2:0 8-bit) — a lossless, fully
    spec-conformant coding of the picture.  The first macroblock is
    bit-written (the slice header ends mid-byte); every later one starts
    byte-aligned, so the rest is one vectorized record append."""
    w = _slice_header(True, frame_num, log2_mfn, idr_pic_id)
    blocks = _mb_sample_blocks(y, cb, cr)
    w.ue(I_PCM_MB_TYPE)
    w.align_zero()  # pcm_alignment_zero_bit
    w.raw_bytes(blocks[0].tobytes())
    if len(blocks) > 1:
        rec = np.empty((len(blocks) - 1, _MB_RECORD), dtype=np.uint8)
        rec[:, 0], rec[:, 1] = _MB_PREFIX
        rec[:, 2:] = blocks[1:]
        w.raw_bytes(rec.tobytes())
    w.rbsp_trailing()
    return w.bytes()


def _pskip_slice_rbsp(n_mbs: int, frame_num: int, log2_mfn: int) -> bytes:
    """P slice RBSP that skips every macroblock (mb_skip_run == n_mbs then
    trailing bits, spec 7.3.4): a conformant bit-exact copy of the previous
    picture (P_Skip with the zero motion this GOP structure predicts)."""
    w = _slice_header(False, frame_num, log2_mfn, 0)
    w.ue(n_mbs)
    w.rbsp_trailing()
    return w.bytes()


def build_annexb_stream(
    width: int, height: int, n_frames: int, seed: int, idr_interval: int = 16
) -> bytes:
    """Deterministic, fully decodable Annex-B stream: SPS + PPS + n_frames
    slice NALs.  IDR frames (every idr_interval) carry the synthetic
    picture losslessly as all-I_PCM macroblocks; the frames between are
    all-skip P slices (bit-exact repeats of the preceding IDR picture).
    Every byte of every frame is real spec-conformant coded video —
    decode_access_unit_pixels reconstructs the pixels exactly."""
    sps = build_sps(width, height)
    log2_mfn = parse_sps(sps)["log2_max_frame_num"]
    mbs = ((width + 15) // 16) * ((height + 15) // 16)
    out = bytearray(_nal(3, NAL_SPS, sps) + _nal(3, NAL_PPS, build_pps()))
    for k in range(n_frames):
        # spec 7.4.3: IDR pictures carry frame_num 0; the P frames between
        # increment from it (idr_interval <= 2^log2_mfn keeps this exact)
        frame_num = (k % idr_interval) % (1 << log2_mfn)
        if k % idr_interval == 0:
            y, cb, cr = synth_frame_planes(width, height, seed, k // idr_interval)
            rbsp = _ipcm_slice_rbsp(y, cb, cr, frame_num, log2_mfn, k & 0xFFFF)
            out += _nal(3, NAL_IDR, rbsp)
        else:
            out += _nal(2, NAL_SLICE, _pskip_slice_rbsp(mbs, frame_num, log2_mfn))
    return bytes(out)


# ---------------------------------------------------------------- parse


def split_nals(stream: bytes):
    """Yield (ref_idc, nal_type, body_start, body_end) over an Annex-B
    stream; 3- and 4-byte start codes accepted.  body offsets index the
    ESCAPED stream bytes (digesting wants raw spans); unescape_rbsp the
    slice to read its header."""
    n = len(stream)
    starts: list[int] = []
    # find()-driven scan (I_PCM streams are MBs; a per-byte Python walk is
    # the cost that matters): every start code — 3- or 4-byte — contains the
    # literal 0x000001, whose match end IS the NAL body start either way
    # (the 4-byte form's extra leading zero only affects the PREVIOUS NAL's
    # end, handled by the trailing-zero trim below).  Escaped NAL bodies
    # cannot contain 0x000001, so each hit is a true boundary.
    j = stream.find(b"\x00\x00\x01")
    while j != -1:
        starts.append(j + 3)
        j = stream.find(b"\x00\x00\x01", j + 3)
    if not starts:
        raise ValueError("not an Annex-B h264 stream (no start codes)")
    for j, s in enumerate(starts):
        # the next start code (minus its prefix) ends this NAL
        if j + 1 < len(starts):
            e = starts[j + 1] - 3
            if e >= 1 and stream[e - 1] == 0:
                e -= 1
        else:
            e = n
        if s >= e:
            continue
        hdr = stream[s]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set")
        yield (hdr >> 5) & 3, hdr & 0x1F, s + 1, e


def access_units(stream: bytes) -> list[dict]:
    """Segment an Annex-B stream into frames: a slice NAL (type 1/5) with
    first_mb_in_slice == 0 starts a new access unit (spec 7.4.1.2.4's
    first-VCL-NAL rule, specialized to the streams this engine meets).
    Returns [{frame_idx, is_idr, frame_num, start, end}] with start/end
    byte spans over the raw stream (start-code inclusive) so a frame's
    bytes can be digested without re-escaping."""
    sps_info: dict | None = None
    aus: list[dict] = []
    for ref_idc, typ, b0, b1 in split_nals(stream):
        nal_start = b0 - 1 - (4 if stream[b0 - 5 : b0 - 1] == _START else 3)
        if typ == NAL_SPS:
            sps_info = parse_sps(unescape_rbsp(stream[b0:b1]))
        elif typ in (NAL_SLICE, NAL_IDR):
            if sps_info is None:
                raise ValueError("slice before SPS")
            r = BitReader(unescape_rbsp(stream[b0 : min(b1, b0 + 16)]))
            first_mb = r.ue()
            r.ue()  # slice_type
            r.ue()  # pic_parameter_set_id
            frame_num = r.u(sps_info["log2_max_frame_num"])
            if first_mb == 0:
                if aus:
                    aus[-1]["end"] = nal_start
                aus.append(
                    {
                        "frame_idx": len(aus),
                        "is_idr": typ == NAL_IDR,
                        "frame_num": frame_num,
                        "start": nal_start,
                        "end": len(stream),
                    }
                )
    return aus


# ----------------------------------------------------------- pixel decode


def parse_pps(rbsp: bytes) -> dict:
    """pic_parameter_set_rbsp fields the pixel decoder needs (spec 7.3.2.2)."""
    r = BitReader(rbsp)
    out = {
        "pic_parameter_set_id": r.ue(),
        "seq_parameter_set_id": r.ue(),
        "entropy_coding_mode_flag": r.u(1),
        "bottom_field_pic_order_in_frame_present_flag": r.u(1),
        "num_slice_groups": r.ue() + 1,
    }
    out["num_ref_idx_l0_default"] = r.ue() + 1
    out["num_ref_idx_l1_default"] = r.ue() + 1
    out["weighted_pred_flag"] = r.u(1)
    out["weighted_bipred_idc"] = r.u(2)
    out["pic_init_qp"] = 26 + r.se()
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    out["deblocking_filter_control_present_flag"] = r.u(1)
    return out


def _read_slice_header(
    r: BitReader, sps: dict, pps: dict, idr: bool, nal_ref_idc: int
) -> tuple[int, int]:
    """Advance r past slice_header (spec 7.3.3) for the stream shapes the
    pixel decoder supports; returns (first_mb_in_slice, slice_type).
    Anything needing prediction state we don't model raises
    NotImplementedError — the honest codec boundary."""
    first_mb = r.ue()
    slice_type = r.ue()
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_max_frame_num"])  # frame_num
    if not sps["frame_mbs_only"]:
        raise NotImplementedError("h264 pixel decode: field/MBAFF coding")
    if sps["pic_order_cnt_type"] != 2:
        raise NotImplementedError("h264 pixel decode: POC type 0/1 slices")
    st = slice_type % 5
    if idr:
        r.ue()  # idr_pic_id
        r.u(1)  # no_output_of_prior_pics_flag
        r.u(1)  # long_term_reference_flag
    elif st == 0:  # P
        if r.u(1):  # num_ref_idx_active_override_flag
            r.ue()
        if r.u(1):  # ref_pic_list_modification_flag_l0
            raise NotImplementedError("h264 pixel decode: ref list modification")
        if pps["weighted_pred_flag"]:
            raise NotImplementedError("h264 pixel decode: weighted prediction")
        if nal_ref_idc and r.u(1):  # adaptive_ref_pic_marking_mode_flag
            raise NotImplementedError("h264 pixel decode: adaptive ref marking")
    elif st != 2:  # not I
        raise NotImplementedError(f"h264 pixel decode: slice_type {slice_type}")
    r.se()  # slice_qp_delta
    if pps["deblocking_filter_control_present_flag"]:
        raise NotImplementedError("h264 pixel decode: deblock control fields")
    return first_mb, slice_type


def _rbsp_data_end(rbsp: bytes) -> int:
    """Bit position of the rbsp_stop_one_bit (the last 1-bit): slice_data
    parsing runs while bit_pos < this (spec more_rbsp_data())."""
    k = len(rbsp) - 1
    while k >= 0 and rbsp[k] == 0:
        k -= 1
    if k < 0:
        raise ValueError("h264 RBSP has no stop bit")
    b = rbsp[k]
    low = (b & -b).bit_length() - 1  # index of least-significant set bit
    return 8 * k + (7 - low)


def _decode_ipcm_slice_into(
    r: BitReader, first_mb: int, end_bit: int, sps: dict, planes: np.ndarray
) -> int:
    """slice_data of an all-I_PCM I slice (spec 7.3.4/7.3.5): per MB,
    mb_type ue(25) + alignment + raw 16x16 luma + 2x 8x8 chroma, written
    into the (n_mbs, 384) block buffer at the MB's raster index.  Runs
    until more_rbsp_data() is false (multi-slice frames tile); returns the
    MB count decoded."""
    blocks = planes
    mbs_w = sps["pic_width_mbs"]
    n_mbs = mbs_w * sps["pic_height_mbs"]
    mb = first_mb
    while r.bit_pos < end_bit:
        if mb >= n_mbs:
            raise ValueError("h264 slice_data overruns the picture")
        # vectorized run: at byte alignment every I_PCM macroblock is the
        # constant record 0x0D 0x00 + 384 samples; peek-verify the prefixes
        # and bulk-consume (the per-bit loop below is only the odd-aligned
        # first MB and any stream that deviates from the constant shape)
        if r.bit_pos & 7 == 0:
            k = min((end_bit - r.bit_pos) // (8 * _MB_RECORD), n_mbs - mb)
            if k >= 1:
                base = r.bit_pos >> 3
                rec = np.frombuffer(
                    r._data, dtype=np.uint8, count=k * _MB_RECORD, offset=base
                ).reshape(k, _MB_RECORD)
                ok = (rec[:, 0] == _MB_PREFIX[0]) & (rec[:, 1] == _MB_PREFIX[1])
                good = int(ok.argmin()) if not ok.all() else k
                if good:
                    blocks[mb : mb + good] = rec[:good, 2:]
                    r._pos += 8 * _MB_RECORD * good
                    mb += good
                    continue
        t = r.ue()
        if t != I_PCM_MB_TYPE:
            raise NotImplementedError(
                f"h264 pixel decode: entropy-coded I macroblock (mb_type {t}) "
                "needs a full CAVLC/CABAC codec"
            )
        r.byte_align_zero()
        blocks[mb] = np.frombuffer(r.read_bytes(_MB_BYTES), dtype=np.uint8)
        mb += 1
    return mb - first_mb


def _slice_nals_in_span(stream: bytes, start: int, end: int):
    """(ref_idc, nal_type, body) for each slice NAL inside one AU's span."""
    for ref_idc, typ, b0, b1 in split_nals(stream[start:end]):
        if typ in (NAL_SLICE, NAL_IDR):
            yield ref_idc, typ, unescape_rbsp(stream[start + b0 : start + b1])


def decode_picture(
    stream: bytes,
    au_index: int,
    aus: list[dict] | None = None,
    idr_cache: dict | None = None,
) -> dict:
    """REAL pixel decode of access unit `au_index` of an Annex-B stream:
    locate the governing IDR at-or-before it, reconstruct its all-I_PCM
    picture, and verify every intervening non-IDR frame is an all-skip P
    slice (bit-exact repeat) — the coding this module's encoder emits and
    any conformant lossless I_PCM+P_Skip stream uses.  Entropy-coded
    residual macroblocks raise NotImplementedError (the remaining honest
    codec boundary).  Returns {y, cb, cr (cropped uint8 planes),
    idr_au_idx, is_idr}.  `idr_cache` (caller-owned dict keyed by IDR AU
    index) skips re-decoding a GOP's I_PCM picture when sampling several
    frames of one stream; the P_Skip verification still runs per call."""
    sps = pps = None
    for _ref, typ, b0, b1 in split_nals(stream):
        if typ == NAL_SPS and sps is None:
            sps = parse_sps(unescape_rbsp(stream[b0:b1]))
        elif typ == NAL_PPS and pps is None:
            pps = parse_pps(unescape_rbsp(stream[b0:b1]))
        if sps is not None and pps is not None:
            break
    if sps is None or pps is None:
        raise ValueError("h264 stream missing SPS/PPS")
    if pps["entropy_coding_mode_flag"]:
        raise NotImplementedError("h264 pixel decode: CABAC streams")
    if pps["num_slice_groups"] != 1:
        raise NotImplementedError("h264 pixel decode: slice groups (FMO)")
    if sps["chroma_format_idc"] != 1:
        raise NotImplementedError("h264 pixel decode: non-4:2:0 chroma")
    if aus is None:
        aus = access_units(stream)
    if not 0 <= au_index < len(aus):
        raise ValueError(f"access unit {au_index} out of range (n={len(aus)})")
    idr_idx = max(
        (i for i in range(au_index + 1) if aus[i]["is_idr"]), default=None
    )
    if idr_idx is None:
        raise ValueError("no IDR at or before requested access unit")
    n_mbs = sps["pic_width_mbs"] * sps["pic_height_mbs"]
    if idr_cache is not None and idr_idx in idr_cache:
        y, cb, cr = idr_cache[idr_idx]
    else:
        blocks = np.zeros((n_mbs, _MB_BYTES), dtype=np.uint8)
        au = aus[idr_idx]
        covered = 0
        for ref_idc, typ, rbsp in _slice_nals_in_span(stream, au["start"], au["end"]):
            r = BitReader(rbsp)
            first_mb, _st = _read_slice_header(r, sps, pps, typ == NAL_IDR, ref_idc)
            covered += _decode_ipcm_slice_into(
                r, first_mb, _rbsp_data_end(rbsp), sps, blocks
            )
        if covered != n_mbs:
            raise ValueError(f"IDR slices cover {covered}/{n_mbs} macroblocks")
        y, cb, cr = _blocks_to_planes(
            blocks, sps["pic_width_mbs"], sps["pic_height_mbs"]
        )
        if idr_cache is not None:
            idr_cache[idr_idx] = (y, cb, cr)
    for i in range(idr_idx + 1, au_index + 1):
        a = aus[i]
        skipped = 0
        for ref_idc, typ, rbsp in _slice_nals_in_span(stream, a["start"], a["end"]):
            r = BitReader(rbsp)
            first_mb, _st = _read_slice_header(r, sps, pps, typ == NAL_IDR, ref_idc)
            end_bit = _rbsp_data_end(rbsp)
            run = r.ue() if r.bit_pos < end_bit else 0
            if r.bit_pos < end_bit:  # a real macroblock follows the skip run
                raise NotImplementedError(
                    "h264 pixel decode: non-skip P macroblocks need a full codec"
                )
            skipped += run
        if skipped != n_mbs:
            raise NotImplementedError(
                "h264 pixel decode: non-skip P macroblocks need a full codec"
            )
    t, l = sps["crop_top_px"], sps["crop_left_px"]
    return {
        "y": y[t : t + sps["height"], l : l + sps["width"]],
        "cb": cb[t // 2 : (t + sps["height"]) // 2, l // 2 : (l + sps["width"]) // 2],
        "cr": cr[t // 2 : (t + sps["height"]) // 2, l // 2 : (l + sps["width"]) // 2],
        "idr_au_idx": idr_idx,
        "is_idr": au_index == idr_idx,
    }


def parse_h264_meta(stream: bytes) -> dict:
    """{profile_idc, level_idc, width, height, n_frames, n_idr} from the
    elementary stream — SPS bits + access-unit walk, no pixel decode."""
    sps_info: dict | None = None
    for _ref, typ, b0, b1 in split_nals(stream):
        if typ == NAL_SPS:
            sps_info = parse_sps(unescape_rbsp(stream[b0:b1]))
            break
    if sps_info is None:
        raise ValueError("no SPS in stream")
    aus = access_units(stream)
    return {
        "profile_idc": sps_info["profile_idc"],
        "level_idc": sps_info["level_idc"],
        "width": sps_info["width"],
        "height": sps_info["height"],
        "n_frames": len(aus),
        "n_idr": sum(1 for a in aus if a["is_idr"]),
    }
