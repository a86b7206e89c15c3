"""ML surface: feature pipeline + regression metrics + autoregressive
forecasting (SURVEY §2.9 M1-M8, re-expressed on MLlib + pandas UDFs).

- ``train_rf_metrics``: StringIndexer/OneHot/MinMaxScaler feature
  pipeline into a RandomForestRegressor with R²/RMSE/MAE evaluation —
  the reference's sklearn metrics endpoint (ref app/routes/metrics.py:21-42)
  and encoders (ref predict_france_with_model.py:33-36,67-69).
- ``autoregressive_forecast``: per-group sequential forecasting under
  ``applyInPandas`` — one group per series, parallel across groups,
  sequential inside (the reference's LSTM loop shape, ref
  app/routes/predict_france_with_model.py:90-101). The default model
  is a deterministic ridge-regularized linear AR fit in numpy; the
  LSTM path (``NumpyLSTM``) runs in numpy too and loads a torch
  ``state_dict`` given as numpy arrays.

Scale: training data prep is all DataFrame ops; the forecast
parallelism is the number of series, each group fitting in one
worker's pandas frame — the layout a 1000-executor cluster wants.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.ml import Pipeline
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import MinMaxScaler, OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_rf_pipeline(
    numeric_features: Iterable[str],
    categorical_features: Iterable[str],
    label: str,
    seed: int = 42,
):
    """The feature pipeline (StringIndexer → OneHot → MinMaxScaler →
    assemble) + RandomForestRegressor as an unfit MLlib Pipeline."""
    numeric_features = list(numeric_features)
    categorical_features = list(categorical_features)
    stages = []
    cat_vecs = []
    for c in categorical_features:
        stages.append(StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep"))
        stages.append(OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_vec"))
        cat_vecs.append(f"{c}_vec")
    stages.append(
        VectorAssembler(inputCols=numeric_features, outputCol="num_raw")
    )
    stages.append(MinMaxScaler(inputCol="num_raw", outputCol="num_scaled"))
    stages.append(
        VectorAssembler(inputCols=["num_scaled", *cat_vecs], outputCol="features")
    )
    stages.append(
        RandomForestRegressor(
            featuresCol="features", labelCol=label, numTrees=30, seed=seed
        )
    )
    return Pipeline(stages=stages)


def train_rf_metrics(
    df: DataFrame,
    numeric_features: Iterable[str],
    categorical_features: Iterable[str],
    label: str,
    seed: int = 42,
    test_fraction: float = 0.25,
) -> dict[str, float]:
    """Fit the feature pipeline + RF on a train split, evaluate on the
    held-out split (r2 / rmse / mae, mirroring ref metrics.py:37-40
    and the MAE backtest at predict_france_with_model.py:107-110)."""
    train, test = df.randomSplit([1 - test_fraction, test_fraction], seed=seed)
    model = build_rf_pipeline(numeric_features, categorical_features, label, seed).fit(
        train
    )
    pred = model.transform(test)
    out = {}
    for metric in ("r2", "rmse", "mae"):
        out[metric] = RegressionEvaluator(
            labelCol=label, predictionCol="prediction", metricName=metric
        ).evaluate(pred)
    return out


def predict_single(model, spark, features: dict[str, object]) -> float:
    """Single-row inference (SURVEY M7, the reference's JSON-features
    predict endpoint recovered from bytecode): one feature dict → one
    prediction, via the same fitted pipeline that serves batches — no
    separate serving path to drift."""
    row_df = spark.createDataFrame([features])
    return float(model.transform(row_df).select("prediction").first()[0])


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class NumpyLSTM:
    """CPU forward pass of the reference's forecasting network — two
    stacked LSTM(128) layers + a dense 1-unit head (ref
    app/train_lstm_multipays (1).py:80-117 builds it; ref
    app/routes/predict_france_with_model.py:39-47 serves it).

    Weight layout matches ``torch.nn.LSTM``: per layer ``W_ih`` is
    ``[4H, in]``, ``W_hh`` is ``[4H, H]``, biases ``[4H]``, gate order
    (i, f, g, o) — so a state_dict exported from the reference's
    ``.pth`` loads directly via :meth:`load_torch_state`. Absent real
    weights (torch is not in this container), a seeded
    uniform(-1/√H, 1/√H) init — torch's default — stands in, keeping
    the whole path deterministic and testable.
    """

    def __init__(
        self,
        input_size: int = 1,
        hidden_size: int = 128,
        num_layers: int = 2,
        seed: int = 7,
    ):
        rng = np.random.default_rng(seed)
        self.hidden_size = hidden_size
        self.layers: list[dict[str, np.ndarray]] = []
        k = 1.0 / np.sqrt(hidden_size)
        for layer in range(num_layers):
            in_sz = input_size if layer == 0 else hidden_size
            self.layers.append(
                {
                    "W_ih": rng.uniform(-k, k, (4 * hidden_size, in_sz)),
                    "W_hh": rng.uniform(-k, k, (4 * hidden_size, hidden_size)),
                    "b_ih": rng.uniform(-k, k, 4 * hidden_size),
                    "b_hh": rng.uniform(-k, k, 4 * hidden_size),
                }
            )
        self.W_fc = rng.uniform(-k, k, (1, hidden_size))
        self.b_fc = rng.uniform(-k, k, 1)

    def load_torch_state(self, state: dict[str, np.ndarray]) -> None:
        """Load a torch state_dict (values as numpy arrays) with the
        reference's parameter names: ``lstm.weight_ih_l{n}``,
        ``lstm.weight_hh_l{n}``, ``lstm.bias_ih_l{n}``,
        ``lstm.bias_hh_l{n}``, ``fc.weight``, ``fc.bias``."""
        for n, layer in enumerate(self.layers):
            layer["W_ih"] = np.asarray(state[f"lstm.weight_ih_l{n}"], dtype=np.float64)
            layer["W_hh"] = np.asarray(state[f"lstm.weight_hh_l{n}"], dtype=np.float64)
            layer["b_ih"] = np.asarray(state[f"lstm.bias_ih_l{n}"], dtype=np.float64)
            layer["b_hh"] = np.asarray(state[f"lstm.bias_hh_l{n}"], dtype=np.float64)
        self.W_fc = np.asarray(state["fc.weight"], dtype=np.float64)
        self.b_fc = np.asarray(state["fc.bias"], dtype=np.float64)

    def forward(self, seq: np.ndarray) -> float:
        """One scaled input window ``(T,)`` → one scalar prediction
        (the head reads the last timestep's top-layer hidden state,
        as the reference does)."""
        x = np.asarray(seq, dtype=np.float64).reshape(1, -1, 1)
        out, _ = self._forward_batch(x)
        return out[0, 0].item()

    # -- training (SURVEY M4: the reference's train loop,
    #    ref app/train_lstm_multipays (1).py:80-117, re-derived as
    #    numpy BPTT since torch is absent from this container) -------

    def _forward_batch(self, X: np.ndarray):
        """Batched forward with per-layer caches for BPTT.

        ``X`` is ``(B, T, input_size)``; returns ``(pred (B, 1),
        caches)`` where caches hold every gate activation the backward
        pass needs. Identical math to :meth:`forward` (same gate
        order, float64), so inference and training share one
        definition of the network.
        """
        H = self.hidden_size
        x = np.asarray(X, dtype=np.float64)
        B, T, _ = x.shape
        caches = []
        for layer in self.layers:
            h = np.zeros((B, H))
            c = np.zeros((B, H))
            outs = np.empty((B, T, H))
            steps = []
            for t in range(T):
                gates = (
                    x[:, t] @ layer["W_ih"].T
                    + layer["b_ih"]
                    + h @ layer["W_hh"].T
                    + layer["b_hh"]
                )
                i = _sigmoid(gates[:, 0:H])
                f = _sigmoid(gates[:, H : 2 * H])
                g = np.tanh(gates[:, 2 * H : 3 * H])
                o = _sigmoid(gates[:, 3 * H : 4 * H])
                c_new = f * c + i * g
                h_new = o * np.tanh(c_new)
                steps.append((x[:, t], h, c, i, f, g, o, c_new))
                h, c = h_new, c_new
                outs[:, t] = h
            caches.append((steps, x))
            x = outs
        pred = x[:, -1] @ self.W_fc.T + self.b_fc
        return pred, (caches, x)

    def _backward(self, pred, y, ctx):
        """MSE loss gradients for every parameter via
        backpropagation-through-time over the stacked layers.
        Returns (loss, grads) with grads keyed like the parameter
        attributes."""
        caches, top_out = ctx
        B = pred.shape[0]
        err = pred - np.asarray(y, dtype=np.float64).reshape(B, 1)
        loss = float(np.mean(err**2))
        dpred = 2.0 * err / B  # d(mean sq err)/d pred
        grads = {
            "W_fc": dpred.T @ top_out[:, -1],
            "b_fc": dpred.sum(axis=0),
        }
        H = self.hidden_size
        # gradient wrt the top layer's output sequence: only the last
        # timestep feeds the head
        d_out = np.zeros((B, top_out.shape[1], H))
        d_out[:, -1] = dpred @ self.W_fc
        for n in range(len(self.layers) - 1, -1, -1):
            layer = self.layers[n]
            steps, layer_in = caches[n]
            T = len(steps)
            dW_ih = np.zeros_like(layer["W_ih"])
            dW_hh = np.zeros_like(layer["W_hh"])
            db = np.zeros(4 * H)
            dX = np.empty_like(layer_in)
            dh_next = np.zeros((B, H))
            dc_next = np.zeros((B, H))
            for t in range(T - 1, -1, -1):
                x_t, h_prev, c_prev, i, f, g, o, c_new = steps[t]
                dh = d_out[:, t] + dh_next
                tc = np.tanh(c_new)
                do = dh * tc
                dc = dc_next + dh * o * (1.0 - tc**2)
                di = dc * g
                df = dc * c_prev
                dg = dc * i
                dc_next = dc * f
                d_gates = np.concatenate(
                    [
                        di * i * (1.0 - i),
                        df * f * (1.0 - f),
                        dg * (1.0 - g**2),
                        do * o * (1.0 - o),
                    ],
                    axis=1,
                )
                dW_ih += d_gates.T @ x_t
                dW_hh += d_gates.T @ h_prev
                db += d_gates.sum(axis=0)
                dX[:, t] = d_gates @ layer["W_ih"]
                dh_next = d_gates @ layer["W_hh"]
            grads[f"W_ih_l{n}"] = dW_ih
            grads[f"W_hh_l{n}"] = dW_hh
            # torch carries two bias vectors that always move together
            # (their gradients are identical); mirror that layout
            grads[f"b_ih_l{n}"] = db
            grads[f"b_hh_l{n}"] = db.copy()
            d_out = dX
        return loss, grads

    def _params(self):
        out = {"W_fc": self, "b_fc": self}
        for n in range(len(self.layers)):
            for p in ("W_ih", "W_hh", "b_ih", "b_hh"):
                out[f"{p}_l{n}"] = self.layers[n]
        return out

    def _get(self, name):
        if name in ("W_fc", "b_fc"):
            return getattr(self, name)
        p, _, l = name.rpartition("_l")
        return self.layers[int(l)][p]

    def _set(self, name, value):
        if name in ("W_fc", "b_fc"):
            setattr(self, name, value)
        else:
            p, _, l = name.rpartition("_l")
            self.layers[int(l)][p] = value

    def train(
        self,
        X: np.ndarray,
        y: np.ndarray,
        epochs: int = 100,
        batch_size: int = 64,
        lr: float = 1e-3,
        seed: int = 0,
    ) -> list[float]:
        """Full-BPTT training with Adam + MSE — the reference's
        recipe (MSELoss + Adam(1e-3), 100 epochs, batch 64; ref
        app/train_lstm_multipays (1).py:96-117). ``X`` is
        ``(N, T, input_size)`` scaled windows, ``y`` ``(N,)`` scaled
        targets. Deterministic: seeded batch shuffling, float64
        math. Returns the per-epoch mean training loss."""
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        rng = np.random.default_rng(seed)
        m = {k: np.zeros_like(self._get(k)) for k in self._params()}
        v = {k: np.zeros_like(self._get(k)) for k in self._params()}
        b1, b2, eps = 0.9, 0.999, 1e-8
        step = 0
        losses = []
        for _ in range(epochs):
            order = rng.permutation(len(X))
            epoch_loss, n_batches = 0.0, 0
            for s in range(0, len(X), batch_size):
                idx = order[s : s + batch_size]
                pred, ctx = self._forward_batch(X[idx])
                loss, grads = self._backward(pred, y[idx], ctx)
                step += 1
                for k, g in grads.items():
                    m[k] = b1 * m[k] + (1 - b1) * g
                    v[k] = b2 * v[k] + (1 - b2) * g * g
                    mh = m[k] / (1 - b1**step)
                    vh = v[k] / (1 - b2**step)
                    self._set(k, self._get(k) - lr * mh / (np.sqrt(vh) + eps))
                epoch_loss += loss
                n_batches += 1
            losses.append(epoch_loss / max(n_batches, 1))
        return losses


_DEFAULT_LSTM: NumpyLSTM | None = None


def _default_lstm() -> NumpyLSTM:
    """Shared seeded stand-in weights — building a fresh model per
    applyInPandas group would regenerate identical ~2.5 MB weights
    once per group."""
    global _DEFAULT_LSTM
    if _DEFAULT_LSTM is None:
        _DEFAULT_LSTM = NumpyLSTM()
    return _DEFAULT_LSTM


def _fit_predict_lstm(
    y: np.ndarray, lookback: int, horizon: int, model: NumpyLSTM | None = None
) -> np.ndarray:
    """Autoregressive multi-step forecast through the LSTM forward —
    the reference's serving loop (predict_france_with_model.py:90-101):
    min-max scale the history, feed the last ``lookback`` steps, append
    each prediction, inverse-scale at the end. With torch absent the
    network runs the seeded stand-in weights; the loop, scaling and
    topology are the reference's."""
    model = model or _default_lstm()
    lo, hi = float(np.min(y)), float(np.max(y))
    span = (hi - lo) or 1.0
    scaled = (np.asarray(y, dtype=np.float64) - lo) / span
    window = scaled[-min(lookback, len(scaled)) :].copy()
    preds = []
    for _ in range(horizon):
        nxt = model.forward(window)
        preds.append(nxt)
        window = np.append(window[1:], nxt)
    return np.array(preds) * span + lo


def _fit_predict_ar(y: np.ndarray, lookback: int, horizon: int) -> np.ndarray:
    """Deterministic linear AR(lookback) forecast, fed back
    autoregressively — the reference's predict loop with the LSTM
    swapped for a closed-form model."""
    lookback = min(lookback, max(len(y) - 1, 1))
    rows = len(y) - lookback
    if rows < 2:
        return np.repeat(y[-1] if len(y) else 0.0, horizon)
    X = np.stack([y[i : i + lookback] for i in range(rows)])
    t = y[lookback:]
    Xb = np.hstack([X, np.ones((rows, 1))])
    # ridge for conditioning; fixed lambda keeps it deterministic
    w = np.linalg.solve(Xb.T @ Xb + 1e-6 * np.eye(lookback + 1), Xb.T @ t)
    window = y[-lookback:].astype(np.float64).copy()
    preds = []
    for _ in range(horizon):
        nxt = float(np.dot(window, w[:-1]) + w[-1])
        preds.append(nxt)
        window = np.append(window[1:], nxt)
    return np.array(preds)


def autoregressive_forecast(
    series: DataFrame,
    group_col: str = "user_id",
    time_col: str = "day",
    value_col: str = "value",
    lookback: int = 14,
    horizon: int = 7,
    model: str = "ar",
) -> DataFrame:
    """Forecast `horizon` steps per group.

    Input: one row per (group, time) with a numeric value (prepare
    with a groupBy upstream). Output: (group, step, forecast_day,
    forecast_value). Sequential inside a group by nature of
    autoregression; distributed across groups by applyInPandas.

    ``model``: 'ar' (closed-form linear AR, the fast default) or
    'lstm' (the reference-topology NumpyLSTM forward)."""
    if model not in ("ar", "lstm"):
        raise ValueError(f"model must be 'ar' or 'lstm', got {model!r}")
    predict = _fit_predict_ar if model == "ar" else _fit_predict_lstm
    schema = (
        f"{group_col} LONG, step INT, forecast_day DATE, forecast_value DOUBLE"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        last_day = pd.Timestamp(pdf[time_col].iloc[-1])
        preds = predict(y, lookback, horizon)
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[0],
                "step": np.arange(1, horizon + 1, dtype=np.int32),
                "forecast_day": [
                    (last_day + pd.Timedelta(days=int(s))).date()
                    for s in range(1, horizon + 1)
                ],
                "forecast_value": preds,
            }
        )

    return series.groupBy(group_col).applyInPandas(run, schema=schema)


def predict_weekly_statistics(
    weekly: DataFrame, horizon_weeks: int = 4, lookback: int = 12
) -> DataFrame:
    """Materialize the table the reference serves but never creates
    (``predicted_weekly_statistics``, SURVEY §2.10; ref
    app/routes/data.py:63-66): per-country weekly new-case forecasts,
    same grain as weekly_statistics.

    Input is the warehouse fact (country_short_code, date_of_report,
    week_new_reported_cases); output one row per (country, future
    week). Grouped autoregression under applyInPandas — the
    reference's per-country LSTM loop shape with the deterministic AR
    stand-in."""
    schema = (
        "country_short_code STRING, date_of_report DATE, "
        "predicted_new_cases DOUBLE, step INT"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date_of_report")
        y = pdf["week_new_reported_cases"].fillna(0).to_numpy(dtype=np.float64)
        preds = _fit_predict_ar(y, lookback, horizon_weeks)
        last = pd.Timestamp(pdf["date_of_report"].iloc[-1])
        return pd.DataFrame(
            {
                "country_short_code": pdf["country_short_code"].iloc[0],
                "date_of_report": [
                    (last + pd.Timedelta(weeks=s)).date()
                    for s in range(1, horizon_weeks + 1)
                ],
                "predicted_new_cases": preds,
                "step": np.arange(1, horizon_weeks + 1, dtype=np.int32),
            }
        )

    return weekly.groupBy("country_short_code").applyInPandas(run, schema=schema)


def build_training_windows(
    series: DataFrame,
    group_col: str = "user_id",
    time_col: str = "day",
    value_col: str = "value",
    lookback: int = 14,
    max_windows_per_group: int = 1000,
) -> DataFrame:
    """Distributed LSTM training-set construction (SURVEY M3, ref
    app/train_lstm_multipays (1).py:48-70): per-group min-max scaling
    (the reference fits one scaler per country) and sliding
    ``lookback``-step input windows with the next value as target —
    all as window algebra, no pandas until the (bounded) final
    collect.

    Deliberate divergences from the reference recipe (ADVICE r4 —
    documented, not hidden behind a "mirrors" claim):
    - ``max_windows_per_group`` keeps the reference's ≤1000 cap but
      takes the LATEST windows per group where the reference's
      SEQUENCES_PER_COUNTRY loop takes the EARLIEST — recency-biased
      training data is the deliberate choice for forecasting; flip
      the ``rn_desc`` ordering to match the reference exactly.
    - the numpy training loop (``NumpyLSTM.train``) omits the
      reference's inter-layer dropout(0.2): plain numpy BPTT has no
      train-mode RNG contract to mirror bit-for-bit, and the
      gradient-check/determinism tests require a dropout-free
      forward. With torch present, load the state dict and train
      with dropout as the reference does.

    Output: (group, x array<double>[lookback], y double) — scaled.
    """
    from pyspark.sql import Window as W

    g = W.partitionBy(group_col)
    ordered = W.partitionBy(group_col).orderBy(time_col)
    span = F.max(value_col).over(g) - F.min(value_col).over(g)
    scaled = (F.col(value_col) - F.min(value_col).over(g)) / F.when(
        span == 0, F.lit(1.0)
    ).otherwise(span)
    win = ordered.rowsBetween(-lookback, 0)
    arr = F.collect_list("scaled_v").over(win)
    recency = F.row_number().over(
        W.partitionBy(group_col).orderBy(F.desc(time_col))
    )
    return (
        series.withColumn("scaled_v", scaled)
        .withColumn("arr", arr)
        .withColumn("rn_desc", recency)
        .filter(F.size("arr") == lookback + 1)
        .filter(F.col("rn_desc") <= max_windows_per_group)
        .select(
            group_col,
            F.slice("arr", 1, lookback).alias("x"),
            F.element_at("arr", lookback + 1).alias("y"),
        )
    )


def train_lstm_on_series(
    series: DataFrame,
    group_col: str = "user_id",
    time_col: str = "day",
    value_col: str = "value",
    lookback: int = 14,
    hidden_size: int = 16,
    epochs: int = 20,
    batch_size: int = 64,
    seed: int = 7,
) -> tuple["NumpyLSTM", list[float]]:
    """End-to-end M4: distributed window building (Spark), then
    numpy-BPTT training on the collected window set — the reference's
    single-node train loop with Spark doing the data prep the
    reference does in pandas. The collect is bounded by
    ``max_windows_per_group`` × group count (the same bound the
    reference's sequence cap imposes); at larger scale the same
    windows feed TorchDistributor when torch exists.

    Returns (trained model, per-epoch losses)."""
    wins = build_training_windows(
        series, group_col, time_col, value_col, lookback
    ).collect()
    X = np.array([r["x"] for r in wins], dtype=np.float64).reshape(
        len(wins), lookback, 1
    )
    y = np.array([r["y"] for r in wins], dtype=np.float64)
    model = NumpyLSTM(hidden_size=hidden_size, seed=seed)
    losses = model.train(X, y, epochs=epochs, batch_size=batch_size, seed=seed)
    return model, losses


def daily_user_series(events: DataFrame) -> DataFrame:
    """Events → dense per-(user, day) value series (forecast input)."""
    return (
        events.groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum("value").alias("value"))
    )
