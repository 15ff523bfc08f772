USE [lineage]
GO
SET ANSI_NULLS ON
GO
SET QUOTED_IDENTIFIER ON
GO
CREATE SCHEMA [sales]
GO
CREATE TABLE [dbo].[CustomerAccount](
	[AccountId] [int] IDENTITY(1,1) NOT NULL,
	[DisplayName] [nvarchar](100) NOT NULL,
	[order] [int] NULL,
	[CreatedOn] [datetime] NOT NULL CONSTRAINT [DF_CustomerAccount_CreatedOn] DEFAULT (getdate()),
	[ThisColumnNameIsDeliberatelyLongerThanSixtyThreeBytesSoPostgresTruncatesIt] [int] NULL,
 CONSTRAINT [PK_CustomerAccount] PRIMARY KEY CLUSTERED
(
	[AccountId] ASC
)WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF) ON [PRIMARY]
) ON [PRIMARY]
GO
CREATE TABLE [sales].[Order Line](
	[OrderLineId] [bigint] NOT NULL,
	[AccountId] [int] NOT NULL,
	[select] [nvarchar](50) NULL,
	[UnitPrice] [decimal](18, 2) NULL,
	[ShippedAt] [datetime2](7) NULL,
 CONSTRAINT [PK_Order_Line] PRIMARY KEY CLUSTERED
(
	[OrderLineId] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
) ON [PRIMARY]
GO
CREATE TABLE [sales].[region_lookup](
	[region_code] [char](3) NOT NULL,
	[RegionName] [varchar](40) NULL
) ON [PRIMARY]
GO
ALTER TABLE [sales].[Order Line]  WITH CHECK ADD  CONSTRAINT [FK_OrderLine_CustomerAccount] FOREIGN KEY([AccountId])
REFERENCES [dbo].[CustomerAccount] ([AccountId])
GO
CREATE NONCLUSTERED INDEX [IX_OrderLine_AccountId] ON [sales].[Order Line]
(
	[AccountId] ASC
)WITH (PAD_INDEX = OFF) ON [PRIMARY]
GO
