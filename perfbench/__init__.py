"""kgspark pipeline benchmark; see run.py."""
