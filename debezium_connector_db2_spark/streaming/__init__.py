"""Micro-batch orchestration: engine loop, checkpoints (one record per
applied batch), event feed, signals and notifications."""
