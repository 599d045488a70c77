"""Column functions: datetime normalization, portable hashing and text
normalization."""
