"""Pure-numpy ModernBERT encoder — the third RelCAT backbone variant
(/root/reference/medcat/utils/relation_extraction/modernbert/model.py),
alongside bert_np (BERT) and llama_np (LLaMA).

Implements the published ModernBERT architecture (Warner et al. 2024;
HF parameter naming, all linear/norm layers bias-free by default):

  * embeddings: token embeddings + LayerNorm (no position / token-type
    embeddings — positions enter via rotary at attention time)
  * layer i: attn_norm (IDENTITY for layer 0, LayerNorm otherwise) →
    fused Wqkv → rotary → attention → Wo, residual;
    mlp_norm → Wi → chunk(input, gate) → GELU(input) * gate → Wo,
    residual (GeGLU)
  * attention alternates GLOBAL (layer index % global_attn_every_n == 0,
    rope theta 160k) and LOCAL sliding-window (rope theta 10k, each
    token attends within window//2 on each side)
  * final_norm

Head note: the reference reuses BaseModel_RelationExtraction.forward,
which reads ``model_output[1]`` as pooled output — ModernBertModel has
no pooler, so that index is undefined under default HF config.  This
implementation uses the first-token hidden state as the pooled vector
(the conventional CLS read-out) and documents the divergence.
"""

from __future__ import annotations

from typing import Dict, List, Optional

import numpy as np

from medcat_spark.functions.bert_np import _RelCatHead, gelu, softmax
from medcat_spark.functions.llama_np import rope_tables, rotate_half


def _ln_nobias(x: np.ndarray, w: np.ndarray,
               eps: float = 1e-5) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps) * w


class ModernBertLayer:
    def __init__(self, p: Dict[str, np.ndarray], n_heads: int,
                 is_global: bool, window: int,
                 theta: float) -> None:
        self.wqkv = p["attn.Wqkv.weight"]           # (3H, H)
        self.wo = p["attn.Wo.weight"]               # (H, H)
        self.attn_norm = p.get("attn_norm.weight")  # None for layer 0
        self.mlp_norm = p["mlp_norm.weight"]
        self.wi = p["mlp.Wi.weight"]                # (2*inter, H)
        self.wmo = p["mlp.Wo.weight"]               # (H, inter)
        self.n_heads = n_heads
        self.is_global = is_global
        self.window = window
        self.theta = theta

    def forward(self, x: np.ndarray, pad_mask: np.ndarray) -> np.ndarray:
        B, L, H = x.shape
        nh = self.n_heads
        dh = H // nh
        h = x if self.attn_norm is None else _ln_nobias(x, self.attn_norm)
        qkv = h @ self.wqkv.T                       # (B, L, 3H)
        q, k, v = np.split(qkv, 3, axis=-1)

        def split(t):
            return t.reshape(B, L, nh, dh).transpose(0, 2, 1, 3)

        q, k, v = split(q), split(k), split(v)
        cos, sin = rope_tables(L, dh, self.theta)
        cos = cos[None, None, :, :]
        sin = sin[None, None, :, :]
        q = q * cos + rotate_half(q) * sin
        k = k * cos + rotate_half(k) * sin
        scores = q @ k.transpose(0, 1, 3, 2) / np.sqrt(dh)
        mask = (1.0 - pad_mask)[:, None, None, :] * -1e9
        if not self.is_global:
            # sliding window: |i - j| <= window // 2
            idx = np.arange(L)
            local = (np.abs(idx[:, None] - idx[None, :])
                     <= self.window // 2)
            mask = mask + np.where(local, 0.0, -1e9)[None, None, :, :]
        ctx = softmax(scores + mask) @ v
        ctx = ctx.transpose(0, 2, 1, 3).reshape(B, L, H)
        x = x + ctx @ self.wo.T
        h2 = _ln_nobias(x, self.mlp_norm)
        wi = h2 @ self.wi.T                          # (B, L, 2*inter)
        inp, gate = np.split(wi, 2, axis=-1)
        return x + (gelu(inp) * gate) @ self.wmo.T


class ModernBertEncoder:
    def __init__(self, tok_emb: np.ndarray, emb_norm: np.ndarray,
                 layers: List[ModernBertLayer],
                 final_norm: np.ndarray) -> None:
        self.tok_emb = tok_emb
        self.emb_norm = emb_norm
        self.layers = layers
        self.final_norm = final_norm

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], n_heads: int,
                        prefix: str = "", local_window: int = 128,
                        global_every: int = 3,
                        global_theta: float = 160000.0,
                        local_theta: float = 10000.0
                        ) -> "ModernBertEncoder":
        f64 = {k[len(prefix):]: np.asarray(v, dtype=np.float64)
               for k, v in sd.items() if k.startswith(prefix)}
        if "model.embeddings.tok_embeddings.weight" in f64:
            f64 = {k[len("model."):]: v for k, v in f64.items()
                   if k.startswith("model.")}
        if "embeddings.tok_embeddings.weight" not in f64:
            raise ValueError("no embeddings.tok_embeddings.weight — not a "
                             "ModernBERT state dict")
        layers: List[ModernBertLayer] = []
        i = 0
        while f"layers.{i}.attn.Wqkv.weight" in f64:
            p = {k[len(f"layers.{i}."):]: v for k, v in f64.items()
                 if k.startswith(f"layers.{i}.")}
            is_global = (i % global_every) == 0
            layers.append(ModernBertLayer(
                p, n_heads, is_global, local_window,
                global_theta if is_global else local_theta))
            i += 1
        if not layers:
            raise ValueError("no layers.0.* in ModernBERT state dict")
        return cls(f64["embeddings.tok_embeddings.weight"],
                   f64["embeddings.norm.weight"], layers,
                   f64["final_norm.weight"])

    def forward(self, input_ids: np.ndarray,
                attention_mask: Optional[np.ndarray] = None) -> np.ndarray:
        ids = np.asarray(input_ids, dtype=np.int64)
        B, L = ids.shape
        if attention_mask is None:
            attention_mask = np.ones((B, L))
        pad = np.asarray(attention_mask, dtype=np.float64)
        x = _ln_nobias(self.tok_emb[ids], self.emb_norm)
        for layer in self.layers:
            x = layer.forward(x, pad)
        return _ln_nobias(x, self.final_norm)


class RelCatModernBertModel(_RelCatHead):
    """ModernBertModel_RelationExtraction (inherits the base
    output2logits, models.py:170-225): the shared pair head over the
    ModernBERT encoder, led by the first-token state (see module
    docstring for the pooled-output note)."""

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], labels: List[str],
                        n_heads: int, **enc_kw) -> "RelCatModernBertModel":
        prefix = "hf_model." if any(k.startswith("hf_model.") for k in sd) \
            else ""
        enc = ModernBertEncoder.from_state_dict(sd, n_heads, prefix=prefix,
                                                **enc_kw)
        fc = {k: np.asarray(v, dtype=np.float64) for k, v in sd.items()
              if k.startswith(("fc1.", "fc2.", "fc3."))}
        return cls(enc, fc, labels)

    def _encode(self, input_ids, attention_mask, tape=None):
        if tape is not None:
            raise NotImplementedError("the ModernBERT RelCAT head has no trainer")
        seq = self.encoder.forward(input_ids, attention_mask)
        return seq, seq[:, 0]


def modernbert_fixture_state_dict(vocab_size: int = 64, hidden: int = 8,
                                  n_layers: int = 4, n_heads: int = 2,
                                  inter: int = 12, nclasses: int = 3,
                                  seed: int = 53) -> Dict[str, np.ndarray]:
    """Tiny deterministic checkpoint: 4 layers so the global(0) / local
    (1,2) / global(3) alternation is exercised (global_every=3)."""
    rs = np.random.RandomState(seed)

    def r(*shape):
        return np.round(rs.uniform(-0.5, 0.5, size=shape),
                        4).astype(np.float32)

    sd: Dict[str, np.ndarray] = {
        "hf_model.model.embeddings.tok_embeddings.weight":
            r(vocab_size, hidden),
        "hf_model.model.embeddings.norm.weight":
            np.ones(hidden, dtype=np.float32),
        "hf_model.model.final_norm.weight":
            np.ones(hidden, dtype=np.float32)}
    for i in range(n_layers):
        lp = f"hf_model.model.layers.{i}."
        if i != 0:   # layer 0 attn_norm is nn.Identity
            sd[lp + "attn_norm.weight"] = np.ones(hidden, dtype=np.float32)
        sd[lp + "attn.Wqkv.weight"] = r(3 * hidden, hidden)
        sd[lp + "attn.Wo.weight"] = r(hidden, hidden)
        sd[lp + "mlp_norm.weight"] = np.ones(hidden, dtype=np.float32)
        sd[lp + "mlp.Wi.weight"] = r(2 * inter, hidden)
        sd[lp + "mlp.Wo.weight"] = r(hidden, inter)
    h2 = 12
    sd["fc1.weight"] = r(h2, 3 * hidden)
    sd["fc1.bias"] = r(h2)
    sd["fc2.weight"] = r(h2 // 2, h2)
    sd["fc2.bias"] = r(h2 // 2)
    sd["fc3.weight"] = r(nclasses, h2 // 2)
    sd["fc3.bias"] = r(nclasses)
    return sd
