"""Row-at-a-time streaming indicator engine (SURVEY §2.A A6-A12).

Pure-Python re-expression of the reference's callback-based streaming
path (``/root/reference/src/streaming.rs``), which is independent of
the query engine: per-tick incremental SMA/EMA/RSI/volume-SMA with
ring buffers, a stateless signal detector, and a processor that fires
registered callbacks per signal.

Semantics notes:
- SMA/volume-SMA: mean of the last ``window_size`` values, None until
  the buffer is full (streaming.rs:86-93, 153-160).
- EMA: seeded with the first tick's price (streaming.rs:95-109).
- RSI: the reference re-seeds the simple average whenever
  ``avg_gain == 0.0`` with a full buffer (streaming.rs:134) — subtly
  different from its batch UDF, which seeds exactly once when the
  count of changes reaches the window (rsi.rs:146). We default to the
  batch-consistent behavior and keep ``seed_mode="reference"`` for the
  quirk-compatible variant.
- Signals (streaming.rs:188-255): RSI<30 Oversold / >70 Overbought,
  volume_ratio>2 VolumeSpike, EMA vs SMA +-0.2% crossovers.

This engine is the semantic oracle for the Structured Streaming path
(``streaming/spark.py``), which runs the same arithmetic distributed.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from typing import Callable, Optional

__all__ = [
    "MarketTick",
    "StreamingIndicatorValues",
    "TradingSignal",
    "StreamingIndicators",
    "StreamingSignalDetector",
    "StreamingProcessor",
    "SIGNAL_OVERSOLD",
    "SIGNAL_OVERBOUGHT",
    "SIGNAL_VOLUME_SPIKE",
    "SIGNAL_BULLISH_CROSSOVER",
    "SIGNAL_BEARISH_CROSSOVER",
    "SIGNAL_PRICE_BREAKOUT",
]

SIGNAL_OVERSOLD = "Oversold"
SIGNAL_OVERBOUGHT = "Overbought"
SIGNAL_VOLUME_SPIKE = "VolumeSpike"
SIGNAL_BULLISH_CROSSOVER = "BullishCrossover"
SIGNAL_BEARISH_CROSSOVER = "BearishCrossover"
SIGNAL_PRICE_BREAKOUT = "PriceBreakout"  # declared, never emitted (parity)


@dataclass
class MarketTick:
    symbol: str
    timestamp: object  # datetime
    price: float
    volume: int
    bid: Optional[float] = None
    ask: Optional[float] = None


@dataclass
class StreamingIndicatorValues:
    symbol: str
    timestamp: object
    price: float
    volume: int
    sma: Optional[float]
    ema: Optional[float]
    rsi: Optional[float]
    volume_sma: Optional[float]
    volume_ratio: Optional[float]


@dataclass
class TradingSignal:
    signal_type: str
    symbol: str
    timestamp: object
    strength: float
    price: float
    description: str


class StreamingIndicators:
    """Per-symbol incremental indicator state."""

    def __init__(self, symbol: str, window_size: int,
                 seed_mode: str = "batch"):
        if seed_mode not in ("batch", "reference"):
            raise ValueError("seed_mode must be 'batch' or 'reference'")
        self.symbol = symbol
        self.window_size = window_size
        self.seed_mode = seed_mode
        self.prices: deque[float] = deque(maxlen=window_size)
        self.volumes: deque[int] = deque(maxlen=window_size)
        self.prev_price: Optional[float] = None
        self.ema_value: Optional[float] = None
        self.gains: deque[float] = deque(maxlen=window_size)
        self.losses: deque[float] = deque(maxlen=window_size)
        self.avg_gain = 0.0
        self.avg_loss = 0.0
        self.rsi_seeded = False

    def update(self, tick: MarketTick) -> StreamingIndicatorValues:
        prev_price = self.prices[-1] if self.prices else None
        self.prices.append(tick.price)
        self.volumes.append(tick.volume)

        sma = self._sma()
        ema = self._ema(tick.price)
        rsi = self._rsi(tick.price, prev_price)
        volume_sma = self._volume_sma()
        volume_ratio = (
            tick.volume / volume_sma if volume_sma is not None else None
        )
        return StreamingIndicatorValues(
            symbol=tick.symbol,
            timestamp=tick.timestamp,
            price=tick.price,
            volume=tick.volume,
            sma=sma,
            ema=ema,
            rsi=rsi,
            volume_sma=volume_sma,
            volume_ratio=volume_ratio,
        )

    def _sma(self) -> Optional[float]:
        if len(self.prices) < self.window_size:
            return None
        s = 0.0
        for p in self.prices:
            s += p
        return s / len(self.prices)

    def _ema(self, price: float) -> float:
        alpha = 2.0 / (self.window_size + 1.0)
        if self.ema_value is None:
            self.ema_value = price
        else:
            self.ema_value = alpha * price + (1.0 - alpha) * self.ema_value
        return self.ema_value

    def _rsi(self, price: float, prev_price: Optional[float]) -> Optional[float]:
        if prev_price is None:
            return None
        change = price - prev_price
        self.gains.append(change if change > 0.0 else 0.0)
        self.losses.append(-change if change < 0.0 else 0.0)
        if len(self.gains) < self.window_size:
            return None
        n = self.window_size
        reseed = (
            (not self.rsi_seeded)
            if self.seed_mode == "batch"
            else self.avg_gain == 0.0
        )
        if reseed:
            # Left fold, as kernels.rsi_kernel and _sma: the builtin
            # sum compensates floats on Python 3.12+.
            sg = sl = 0.0
            for g, lo in zip(self.gains, self.losses):
                sg += g
                sl += lo
            self.avg_gain = sg / n
            self.avg_loss = sl / n
            self.rsi_seeded = True
        else:
            alpha = 1.0 / n
            self.avg_gain = self.avg_gain * (1.0 - alpha) + self.gains[-1] * alpha
            self.avg_loss = self.avg_loss * (1.0 - alpha) + self.losses[-1] * alpha
        if self.avg_loss == 0.0:
            return 100.0
        rs = self.avg_gain / self.avg_loss
        return 100.0 - (100.0 / (1.0 + rs))

    def _volume_sma(self) -> Optional[float]:
        if len(self.volumes) < self.window_size:
            return None
        return sum(self.volumes) / len(self.volumes)


class StreamingSignalDetector:
    """Stateless signal detection over one enriched row
    (streaming.rs:188-255)."""

    def __init__(self, indicators: StreamingIndicatorValues):
        self.ind = indicators

    def detect_signals(self) -> list[TradingSignal]:
        ind = self.ind
        out: list[TradingSignal] = []
        if ind.rsi is not None:
            if ind.rsi < 30.0:
                out.append(TradingSignal(
                    SIGNAL_OVERSOLD, ind.symbol, ind.timestamp,
                    (30.0 - ind.rsi) / 30.0, ind.price,
                    f"RSI oversold at {ind.rsi:.2f}",
                ))
            elif ind.rsi > 70.0:
                out.append(TradingSignal(
                    SIGNAL_OVERBOUGHT, ind.symbol, ind.timestamp,
                    (ind.rsi - 70.0) / 30.0, ind.price,
                    f"RSI overbought at {ind.rsi:.2f}",
                ))
        if ind.volume_ratio is not None and ind.volume_ratio > 2.0:
            out.append(TradingSignal(
                SIGNAL_VOLUME_SPIKE, ind.symbol, ind.timestamp,
                (ind.volume_ratio - 2.0) / 3.0, ind.price,
                f"Volume spike: {ind.volume_ratio:.2f}x average",
            ))
        if ind.sma is not None and ind.ema is not None:
            strength = min(abs((ind.ema - ind.sma) / ind.sma), 1.0)
            if ind.ema > ind.sma * 1.002:
                out.append(TradingSignal(
                    SIGNAL_BULLISH_CROSSOVER, ind.symbol, ind.timestamp,
                    strength, ind.price,
                    f"EMA above SMA: {ind.ema:.2f} vs {ind.sma:.2f}",
                ))
            elif ind.ema < ind.sma * 0.998:
                out.append(TradingSignal(
                    SIGNAL_BEARISH_CROSSOVER, ind.symbol, ind.timestamp,
                    strength, ind.price,
                    f"EMA below SMA: {ind.ema:.2f} vs {ind.sma:.2f}",
                ))
        return out


class StreamingProcessor:
    """Callback-dispatching tick processor (streaming.rs:280-321).

    Maintains one ``StreamingIndicators`` per symbol (the reference
    keeps a single instance under a mutex; per-symbol state is the
    natural generalization its API implies)."""

    def __init__(self, window_size: int, seed_mode: str = "batch"):
        self.window_size = window_size
        self.seed_mode = seed_mode
        self._indicators: dict[str, StreamingIndicators] = {}
        self._handlers: list[Callable[[TradingSignal], None]] = []

    def add_signal_handler(
        self, handler: Callable[[TradingSignal], None]
    ) -> None:
        self._handlers.append(handler)

    def process_tick(self, tick: MarketTick) -> StreamingIndicatorValues:
        state = self._indicators.get(tick.symbol)
        if state is None:
            state = self._indicators[tick.symbol] = StreamingIndicators(
                tick.symbol, self.window_size, self.seed_mode)
        values = state.update(tick)
        for signal in StreamingSignalDetector(values).detect_signals():
            for handler in self._handlers:
                handler(signal)
        return values
